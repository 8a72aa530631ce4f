"""Query pack 8 — signal generation, hyper-param search, ensemble weights,
data-quality gate.

F14 (signal generation when-chains), F16 (candidate search + O2 top-1),
F5 (ensemble confidence weighting), P2–P6 (the validator battery as one
DQ snapshot query) — all pure relational algebra, all oracle-matched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.scalars import chi2_sf1, chi2_sf1_sql, epoch_seconds
from ..sources.catalog import load_table
from .queries import literal_grid, query, r6, session_frame_cache, shared_small_frame
from .queries_stats import _S_SQL, _baseline_forecasts, _series, _w


# ---------------------------------------------------------------------------
# F14 — signal generation: forecast edge → action gate → ATR targets
# ---------------------------------------------------------------------------


@query(
    "signal_generation",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    pre AS (
      SELECT user_id, rn, value, lr,
             ABS(value - LAG(value) OVER (PARTITION BY user_id ORDER BY rn))
               AS adiff
      FROM s
    ),
    feat AS (
      SELECT user_id, rn, value,
             AVG(value) OVER w5 AS ma5,
             STDDEV_SAMP(lr) OVER w20 AS vol20,
             AVG(adiff) OVER w14 AS atr14,
             MAX(rn) OVER (PARTITION BY user_id) AS max_rn
      FROM pre
      WINDOW w5 AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w14 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    latest AS (
      SELECT user_id, value,
             ROUND((ma5 - value) / value - 0.002, 6) AS expected_return,
             ROUND(vol20, 6) AS vol20,
             ROUND(atr14, 6) AS atr14
      FROM feat WHERE rn = max_rn AND rn >= 21
    )
    SELECT user_id, ROUND(value, 6) AS price, expected_return, vol20, atr14,
           CASE WHEN expected_return > 0.01 AND expected_return / vol20 > 0.5
                THEN 'BUY'
                WHEN expected_return < -0.01 AND -expected_return / vol20 > 0.5
                THEN 'SELL'
                ELSE 'HOLD' END AS action,
           ROUND(LEAST(ABS(expected_return) / vol20, 1.0), 6) AS confidence,
           ROUND(value + 2 * atr14, 6) AS target_price,
           ROUND(value - 1 * atr14, 6) AS stop_price
    FROM latest
    """,
)
def signal_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 signal generation: latest-bar features → expected return net of
    friction → SNR/confidence → BUY/SELL/HOLD gate → ATR-based target and
    stop (R:R = 2) — reference `models/time_series_signal_generator.py`
    (friction `:1313-1451`, confidence `:1587-1680`, action gate
    `:1981-2017`, ATR targets `:2049-2101`; ATR W10 uses |Δprice| here —
    the events table has no high/low).

    Pure when-chains over one window pass — the whole reference module
    collapses into column expressions Catalyst can pipeline."""
    s = _series(spark, sf_dir)
    wp = _w()
    pre = s.select(
        "user_id",
        "rn",
        "value",
        "lr",
        F.abs(F.col("value") - F.lag("value").over(wp)).alias("adiff"),
    )
    feat = pre.select(
        "user_id",
        "rn",
        "value",
        F.avg("value").over(_w((-4, 0))).alias("ma5"),
        F.stddev_samp("lr").over(_w((-19, 0))).alias("vol20"),
        F.avg("adiff").over(_w((-13, 0))).alias("atr14"),
        F.max("rn").over(Window.partitionBy("user_id")).alias("max_rn"),
    )
    latest = feat.filter(
        (F.col("rn") == F.col("max_rn")) & (F.col("rn") >= 21)
    ).select(
        "user_id",
        "value",
        r6((F.col("ma5") - F.col("value")) / F.col("value") - 0.002).alias(
            "expected_return"
        ),
        r6(F.col("vol20")).alias("vol20"),
        r6(F.col("atr14")).alias("atr14"),
    )
    er, vol = F.col("expected_return"), F.col("vol20")
    return latest.select(
        "user_id",
        r6(F.col("value")).alias("price"),
        "expected_return",
        "vol20",
        "atr14",
        F.when((er > 0.01) & (er / vol > 0.5), "BUY")
        .when((er < -0.01) & (-er / vol > 0.5), "SELL")
        .otherwise("HOLD")
        .alias("action"),
        r6(F.least(F.abs(er) / vol, F.lit(1.0))).alias("confidence"),
        r6(F.col("value") + 2 * F.col("atr14")).alias("target_price"),
        r6(F.col("value") - 1 * F.col("atr14")).alias("stop_price"),
    )


# ---------------------------------------------------------------------------
# F16 — hyper-parameter candidate search with O2 top-1 selection
# ---------------------------------------------------------------------------


_GRID_KS = (2, 3, 5, 8)

_GRID_ARMS = "\n      UNION ALL ".join(
    f"""SELECT user_id, rn, value, {k} AS k,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN {k} PRECEDING AND 1 PRECEDING) AS fk
      FROM s"""
    for k in _GRID_KS
)


@query(
    "param_search_top1",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    grid AS (
      {_GRID_ARMS}
    ),
    scored AS (
      SELECT user_id, k,
             ROUND(SQRT(AVG(POWER(value - fk, 2))), 6) AS rmse,
             COUNT(*) AS n
      FROM grid WHERE rn >= 10
      GROUP BY user_id, k
    )
    SELECT user_id, k AS best_k, rmse, n
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY rmse, k) AS pick
      FROM scored
    ) WHERE pick = 1
    """,
)
def param_search_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16 candidate search: a 4-arm parameter grid (trailing-mean window
    k ∈ {2,3,5,8} as the forecaster family), each arm scored by
    walk-forward RMSE, O2 top-1 per key with deterministic (rmse, k)
    tiebreak — reference `etl/strategy_optimizer.py:43-213` (sampled
    candidates, caller-scored, best kept) + `etl/database_manager.py:
    3379-3401` (ORDER BY score LIMIT 1).

    Each arm is a window expression over the SAME (user_id) sort —
    Catalyst computes all four in one Window node on one shuffle, then
    the union is a zero-cost local concat of projections. Candidate count
    scales the expression list, never the shuffle count."""
    s = _series(spark, sf_dir).select("user_id", "rn", "value")
    arms = [
        s.select(
            "user_id",
            "rn",
            "value",
            F.lit(k).alias("k"),
            F.avg("value").over(_w((-k, -1))).alias("fk"),
        )
        for k in _GRID_KS
    ]
    grid = arms[0]
    for a in arms[1:]:
        grid = grid.unionByName(a)
    scored = (
        grid.filter(F.col("rn") >= 10)
        .groupBy("user_id", "k")
        .agg(
            r6(F.sqrt(F.avg(F.pow(F.col("value") - F.col("fk"), 2)))).alias("rmse"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    pick = F.row_number().over(Window.partitionBy("user_id").orderBy("rmse", "k"))
    return (
        scored.withColumn("pick", pick)
        .filter(F.col("pick") == 1)
        .select("user_id", F.col("k").alias("best_k"), "rmse", "n")
    )


# ---------------------------------------------------------------------------
# F5 — ensemble confidence weights from inverse model RMSE
# ---------------------------------------------------------------------------


@query(
    "ensemble_weight_selection",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value,
             LAG(value, 1) OVER wp AS f_naive,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS f_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS f_ma10
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
      QUALIFY rn >= 11
    ),
    e AS (
      SELECT user_id,
             SQRT(AVG(POWER(value - f_naive, 2))) AS rmse_naive,
             SQRT(AVG(POWER(value - f_ma3, 2))) AS rmse_ma3,
             SQRT(AVG(POWER(value - f_ma10, 2))) AS rmse_ma10,
             COUNT(*) AS n
      FROM f GROUP BY user_id HAVING COUNT(*) > 10
    ),
    w AS (
      SELECT user_id, n, rmse_naive, rmse_ma3, rmse_ma10,
             1/rmse_naive + 1/rmse_ma3 + 1/rmse_ma10 AS z
      FROM e
    )
    SELECT user_id, n,
           ROUND(rmse_naive, 6) AS rmse_naive,
           ROUND((1/rmse_naive) / z, 6) AS w_naive,
           ROUND((1/rmse_ma3) / z, 6) AS w_ma3,
           ROUND((1/rmse_ma10) / z, 6) AS w_ma10
    FROM w
    """,
)
def ensemble_weight_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 ensemble confidence → weight selection: per-model walk-forward
    RMSE → inverse-RMSE weights normalized to 1 — reference
    `forcester_ts/ensemble.py:387-724` (`derive_model_confidence`:
    RMSE-rank-driven confidence, normalized weight vector). The weights
    feed the J5/F6 blend (`ensemble_blend` query). Invariant Σw = 1 is
    hash-checked by the oracle and asserted in tests."""
    s = _series(spark, sf_dir)
    wp = _w()
    f = s.select(
        "user_id",
        "rn",
        "value",
        F.lag("value", 1).over(wp).alias("f_naive"),
        F.avg("value").over(_w((-3, -1))).alias("f_ma3"),
        F.avg("value").over(_w((-10, -1))).alias("f_ma10"),
    ).filter(F.col("rn") >= 11)

    def rmse(c):
        return F.sqrt(F.avg(F.pow(F.col("value") - F.col(c), 2)))

    e = (
        f.groupBy("user_id")
        .agg(
            rmse("f_naive").alias("rmse_naive"),
            rmse("f_ma3").alias("rmse_ma3"),
            rmse("f_ma10").alias("rmse_ma10"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") > 10)
    )
    z = 1 / F.col("rmse_naive") + 1 / F.col("rmse_ma3") + 1 / F.col("rmse_ma10")
    return e.select(
        "user_id",
        "n",
        r6(F.col("rmse_naive")).alias("rmse_naive"),
        r6((1 / F.col("rmse_naive")) / z).alias("w_naive"),
        r6((1 / F.col("rmse_ma3")) / z).alias("w_ma3"),
        r6((1 / F.col("rmse_ma10")) / z).alias("w_ma10"),
    )


# ---------------------------------------------------------------------------
# P2–P6 — validator battery as one DQ snapshot
# ---------------------------------------------------------------------------


@query(
    "dq_snapshot_events",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    dup AS (
      SELECT COUNT(*) AS n_dup_ids FROM (
        SELECT event_id FROM events GROUP BY event_id HAVING COUNT(*) > 1)
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT user_id) AS n_keys,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_value,
           CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpos_value,
           CAST(SUM(CASE WHEN isnan(value) OR value = 'infinity'::DOUBLE
                     OR value = '-infinity'::DOUBLE THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonfinite,
           CAST(SUM(CASE WHEN prev_ts IS NOT NULL AND ts < prev_ts
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_backwards_ts,
           ROUND(MAX(EPOCH(ts) - EPOCH(prev_ts)), 6) AS max_gap_seconds,
           (SELECT n_dup_ids FROM dup) AS n_dup_ids,
           CASE WHEN SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 0
                 AND SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) = 0
                 AND (SELECT n_dup_ids FROM dup) = 0
                THEN 'PASS' ELSE 'FAIL' END AS verdict
    FROM g
    """,
)
def dq_snapshot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2–P6 validator battery in one pass: positivity (P2), null ratio
    (P4), non-finite scrub counts (P8), monotonic-timestamp check and
    max gap (P6), duplicate-id check (U3), PASS/FAIL verdict — reference
    `etl/data_validator.py:36-90` + `etl/preprocessor.py:79-214`
    (post-preprocess structural gate → PASS/WARN/FAIL).

    One window pass + one aggregate; the dup check is a self-contained
    groupBy that AQE runs as a cheap sub-aggregate. This is the shape of
    a DQ gate you run on every 100 TB ingest batch."""
    ev = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        "ts",
        "value",
        F.lag("ts").over(wp).alias("prev_ts"),
    )
    n_dup = (
        ev.groupBy("event_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    v = F.col("value")
    agg = g.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_keys"),
        F.sum(v.isNull().cast("int")).alias("n_null_value"),
        F.sum((v <= 0).cast("int")).alias("n_nonpos_value"),
        F.sum(
            (F.isnan(v) | (v == float("inf")) | (v == float("-inf"))).cast("int")
        ).alias("n_nonfinite"),
        F.sum(
            (F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts"))).cast(
                "int"
            )
        ).alias("n_backwards_ts"),
        r6(
            F.max(
                epoch_seconds(F.col("ts")) - epoch_seconds(F.col("prev_ts"))
            )
        ).alias("max_gap_seconds"),
    )
    return agg.select(
        "*",
        F.lit(n_dup).cast("bigint").alias("n_dup_ids"),
        F.when(
            (F.col("n_null_value") == 0)
            & (F.col("n_nonpos_value") == 0)
            & (F.lit(n_dup) == 0),
            "PASS",
        )
        .otherwise("FAIL")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Integrity: PnL arithmetic reconciliation (enforcer check #7)
# ---------------------------------------------------------------------------


@query(
    "order_total_reconciliation",
    oracle="""
    WITH recomputed AS (
      SELECT o.o_orderkey, o.o_orderstatus,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS stored_total,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(8,2)))
                 * (1 + CAST(l.l_tax AS DECIMAL(8,2)))) AS recomputed_total
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderstatus, o.o_totalprice
    )
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN ABS(CAST(stored_total - recomputed_total AS DOUBLE))
                         > 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
           ROUND(MAX(ABS(CAST(stored_total - recomputed_total AS DOUBLE))), 2)
             AS max_abs_diff
    FROM recomputed GROUP BY o_orderstatus
    """,
)
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity check #7, PnL arithmetic audit: the stored order total
    must equal the recomputed sum of its legs — reference
    `integrity/pnl_integrity_enforcer.py:1061-1108` (realized_pnl
    arithmetic re-derivation with mismatch counting). All arithmetic in
    exact DECIMAL; the tolerance compare happens on the exact difference
    cast once to double."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    leg = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(8,2)"))
        * (F.lit(1) + F.col("l_tax").cast("decimal(8,2)"))
    )
    rec = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("decimal(18,2)").alias("stored_total"),
        )
        .agg(F.sum(leg).alias("recomputed_total"))
    )
    diff = F.abs(
        (F.col("stored_total") - F.col("recomputed_total")).cast("double")
    )
    return rec.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum((diff > 0.01).cast("int")).alias("n_mismatched"),
        F.round(F.max(diff), 2).alias("max_abs_diff"),
    )


# ---------------------------------------------------------------------------
# A6 — omega ratio threshold ladder
# ---------------------------------------------------------------------------


@query(
    "omega_ratio_ladder",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    thr(tau) AS (VALUES (0.0), (0.0005), (0.001), (0.002))
    SELECT user_id, tau,
           COUNT(lr) AS n,
           ROUND(SUM(GREATEST(lr - tau, 0))
                 / NULLIF(SUM(GREATEST(tau - lr, 0)), 0), 6) AS omega
    FROM s CROSS JOIN thr
    GROUP BY user_id, tau
    """,
)
def omega_ratio_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 omega-ratio family over a threshold ladder — reference
    `etl/portfolio_math.py:540-1030` (omega vs threshold ladder,
    robustness summary). The 4-row threshold table fans out as a
    broadcast nested loop; partial aggregation collapses it map-side."""
    s = _series(spark, sf_dir)
    thr = literal_grid(
        spark, [(0.0,), (0.0005,), (0.001,), (0.002,)], "tau double"
    )
    lr, tau = F.col("lr"), F.col("tau")
    return (
        s.crossJoin(F.broadcast(thr))
        .groupBy("user_id", "tau")
        .agg(
            F.count(lr).alias("n"),
            r6(
                F.sum(F.greatest(lr - tau, F.lit(0.0)))
                / F.nullif(F.sum(F.greatest(tau - lr, F.lit(0.0))), F.lit(0.0))
            ).alias("omega"),
        )
    )


# ---------------------------------------------------------------------------
# W16 — cross-sectional z-score within each time bucket
# ---------------------------------------------------------------------------


@query(
    "xsec_zscore",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    b AS (
      SELECT user_id, rn, value,
             DATE_TRUNC('day', ts) AS day,
             STDDEV_SAMP(value) OVER wd AS sd,
             AVG(value) OVER wd AS mu,
             COUNT(*) OVER wd AS n_in_day
      FROM s
      WINDOW wd AS (PARTITION BY DATE_TRUNC('day', ts))
    )
    SELECT user_id, rn,
           ROUND((value - mu) / NULLIF(sd, 0), 6) AS xsec_z
    FROM b WHERE n_in_day >= 10
    """,
)
def xsec_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16 cross-sectional z-score: each observation standardized against
    all keys' values in the same day bucket — reference
    `etl/time_series_feature_builder.py:168-177` (z of 20-day return
    within each date). The unordered partition window is a single hash
    shuffle on the bucket; no sort."""
    s = _series(spark, sf_dir)
    wd = Window.partitionBy(F.date_trunc("day", F.col("ts")))
    b = s.select(
        "user_id",
        "rn",
        "value",
        F.stddev_samp("value").over(wd).alias("sd"),
        F.avg("value").over(wd).alias("mu"),
        F.count(F.lit(1)).over(wd).alias("n_in_day"),
    )
    return b.filter(F.col("n_in_day") >= 10).select(
        "user_id",
        "rn",
        r6((F.col("value") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0)))
        .alias("xsec_z"),
    )


# ---------------------------------------------------------------------------
# A2 — per-key mean imputation
# ---------------------------------------------------------------------------


@query(
    "group_mean_impute",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id,
             CASE WHEN value > 0 THEN value END AS v_masked,
             AVG(CASE WHEN value > 0 THEN value END)
               OVER (PARTITION BY user_id) AS grp_mean
      FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN v_masked IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
           ROUND(AVG(COALESCE(v_masked, grp_mean)), 6) AS mean_after_impute
    FROM flagged GROUP BY user_id
    """,
)
def group_mean_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 per-key mean imputation: invalid observations (non-positive
    prices, P2) are replaced by the key's mean of valid ones —
    reference `etl/preprocessor.py:69-74` (fillna with group mean) via
    the `coalesce(col, avg over w)` idiom of SURVEY §2.4."""
    ev = load_table(spark, sf_dir, "events")
    v_masked = F.when(F.col("value") > 0, F.col("value"))
    wg = Window.partitionBy("user_id")
    flagged = ev.select(
        "user_id",
        "event_id",
        v_masked.alias("v_masked"),
        F.avg(v_masked).over(wg).alias("grp_mean"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v_masked").isNull().cast("int")).alias("n_imputed"),
        r6(F.avg(F.coalesce("v_masked", "grp_mean"))).alias("mean_after_impute"),
    )


# ---------------------------------------------------------------------------
# §2.8 null family — forward/backward fill over masked gaps
# ---------------------------------------------------------------------------


@query(
    "ffill_masked_values",
    oracle="""
    WITH masked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN CAST(props->>'k' AS INTEGER) >= 10 THEN value END
               AS v_masked
      FROM events
    ),
    filled AS (
      SELECT user_id, v_masked,
             LAST_VALUE(v_masked IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff,
             FIRST_VALUE(v_masked IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bf
      FROM masked
    )
    SELECT user_id,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN v_masked IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN v_masked IS NULL AND ff IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ffilled,
           ROUND(AVG(COALESCE(v_masked, ff, bf)), 6) AS mean_filled
    FROM filled GROUP BY user_id
    """,
)
def ffill_masked_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 null-handling family: ffill via `last(ignorenulls)` over an
    ordered window with bfill fallback (`first(ignorenulls)` forward) —
    reference `etl/preprocessor.py:50-60` (ffill/bfill/interpolate
    cascade). Rows with small JSON `k` play the missing observations."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    masked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(k >= 10, F.col("value")).alias("v_masked"),
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    filled = masked.select(
        "user_id",
        "v_masked",
        F.last("v_masked", ignorenulls=True).over(wf).alias("ff"),
        F.first("v_masked", ignorenulls=True).over(wb).alias("bf"),
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("v_masked").isNull().cast("int")).alias("n_masked"),
        F.sum(
            (F.col("v_masked").isNull() & F.col("ff").isNotNull()).cast("int")
        ).alias("n_ffilled"),
        r6(F.avg(F.coalesce("v_masked", "ff", "bf"))).alias("mean_filled"),
    )


# ---------------------------------------------------------------------------
# §2.10 UDTF shape — forecast horizon index on business days
# ---------------------------------------------------------------------------


@query(
    "forecast_horizon_index",
    oracle="""
    WITH last_bar AS (
      SELECT user_id, CAST(MAX(ts) AS DATE) AS last_day
      FROM events GROUP BY user_id
    ),
    expanded AS (
      SELECT user_id, last_day,
             UNNEST(GENERATE_SERIES(1, 10)) AS offset_days
      FROM last_bar
    ),
    cand AS (
      SELECT user_id, offset_days,
             last_day + CAST(offset_days AS INTEGER) AS d
      FROM expanded
    ),
    biz AS (
      SELECT user_id, d,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS horizon_step
      FROM cand WHERE DAYOFWEEK(d) NOT IN (0, 6)
    )
    SELECT user_id, horizon_step, CAST(d AS VARCHAR) AS forecast_date
    FROM biz WHERE horizon_step <= 5
    """,
)
def forecast_horizon_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 UDTF shape: per-key forecast horizon index — explode a
    date sequence after each key's last bar, keep business days, number
    the first 5 — reference `forcester_ts/forecaster.py:1730-1751`
    (horizon index build) + the business-day `date_range` idiom
    (`etl/data_storage.py:138-139`). `explode(sequence(...))` is the
    engine's one-row-in/many-out primitive (SURVEY §2.10 closing note)."""
    ev = load_table(spark, sf_dir, "events")
    last_bar = ev.groupBy("user_id").agg(F.max(F.to_date("ts")).alias("last_day"))
    cand = last_bar.select(
        "user_id",
        "last_day",
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("offset_days"),
    ).select(
        "user_id",
        F.date_add(F.col("last_day"), F.col("offset_days")).alias("d"),
    )
    # DuckDB DAYOFWEEK: Sunday=0..Saturday=6; Spark dayofweek: Sunday=1..Saturday=7
    biz = cand.filter(~F.dayofweek("d").isin(1, 7)).select(
        "user_id",
        "d",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("d"))
        .alias("horizon_step"),
    )
    return biz.filter(F.col("horizon_step") <= 5).select(
        "user_id", "horizon_step", F.col("d").cast("string").alias("forecast_date")
    )


# ---------------------------------------------------------------------------
# §1.4 telemetry — latency percentile rollup
# ---------------------------------------------------------------------------


@query(
    "latency_percentiles",
    oracle="""
    SELECT event_type AS stage,
           COUNT(*) AS n,
           ROUND(QUANTILE_CONT(value, 0.50), 6) AS p50,
           ROUND(QUANTILE_CONT(value, 0.95), 6) AS p95,
           ROUND(QUANTILE_CONT(value, 0.99), 6) AS p99,
           ROUND(MAX(value), 6) AS p_max
    FROM events GROUP BY event_type
    """,
)
def latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.4 telemetry surface: per-stage latency percentile rollup (p50/
    p95/p99/max) — reference `latency_metrics` table
    (`etl/database_manager.py:1117-1126`), with `value` playing the stage
    latency. Exact interpolating percentiles (the approx sketch is the
    100 TB path; exact is required for the oracle hash — SURVEY §7.3)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("event_type").alias("stage")).agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.percentile("value", F.lit(0.50))).alias("p50"),
        r6(F.percentile("value", F.lit(0.95))).alias("p95"),
        r6(F.percentile("value", F.lit(0.99))).alias("p99"),
        r6(F.max("value")).alias("p_max"),
    )


# ---------------------------------------------------------------------------
# F5 — full ensemble confidence derivation (the reference's most
# distinctive model-selection behavior)
# ---------------------------------------------------------------------------


@query(
    "ensemble_confidence_weights",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value,
             LAG(value) OVER wp AS prev,
             LAG(value) OVER wp AS f_naive,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS f_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS f_ma10
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
      QUALIFY rn >= 11
    ),
    m AS (
      SELECT user_id, COUNT(*) AS n,
             SQRT(AVG(POW(value - f_naive, 2))) AS rmse_naive,
             SQRT(AVG(POW(value - f_ma3, 2)))   AS rmse_ma3,
             SQRT(AVG(POW(value - f_ma10, 2)))  AS rmse_ma10,
             STDDEV_SAMP(value - f_naive) AS te_naive,
             STDDEV_SAMP(value - f_ma3)   AS te_ma3,
             STDDEV_SAMP(value - f_ma10)  AS te_ma10,
             AVG(CASE WHEN SIGN(f_naive - prev) = SIGN(value - prev)
                      THEN 1.0 ELSE 0.0 END) AS da_naive,
             AVG(CASE WHEN SIGN(f_ma3 - prev) = SIGN(value - prev)
                      THEN 1.0 ELSE 0.0 END) AS da_ma3,
             AVG(CASE WHEN SIGN(f_ma10 - prev) = SIGN(value - prev)
                      THEN 1.0 ELSE 0.0 END) AS da_ma10
      FROM f GROUP BY user_id HAVING COUNT(*) > 30
    ),
    long AS (
      SELECT user_id, n, 'naive' AS model, rmse_naive AS rmse, te_naive AS te,
             da_naive AS da, rmse_naive AS bl_rmse, te_naive AS bl_te FROM m
      UNION ALL
      SELECT user_id, n, 'ma3', rmse_ma3, te_ma3, da_ma3, rmse_naive, te_naive FROM m
      UNION ALL
      SELECT user_id, n, 'ma10', rmse_ma10, te_ma10, da_ma10, rmse_naive, te_naive FROM m
    ),
    scored AS (
      SELECT user_id, n, model, rmse, te, da,
             LEAST(GREATEST(1.0 / (1.0 + 1.5 * (rmse / bl_rmse - 1.0)), 0.05), 0.95) AS rel_rmse,
             LEAST(GREATEST(1.0 / (1.0 + 1.2 * (te / bl_te - 1.0)), 0.05), 0.95)     AS rel_te,
             LEAST(GREATEST(GREATEST((da - 0.5) / 0.5, 0.0), 0.05), 0.95)            AS da_score,
             LEAST(GREATEST(
               1.0 - (rmse - MIN(rmse) OVER wk)
                     / (MAX(rmse) OVER wk - MIN(rmse) OVER wk + 1e-10),
               0.05), 0.95) AS rmse_rank
      FROM long WINDOW wk AS (PARTITION BY user_id)
    ),
    conf AS (
      SELECT user_id, n, model, rmse, te, da,
             LEAST(GREATEST(
               (LEAST(GREATEST(
                  0.6 * ((rel_rmse + rel_te) / 2.0) + 0.4 * da_score,
                  0.05), 0.95) + rmse_rank) / 2.0,
               0.05), 0.95) AS confidence
      FROM scored
    ),
    raw AS (
      SELECT user_id, n, model, rmse, te, da, confidence,
             confidence / SUM(confidence) OVER (PARTITION BY user_id) AS w_raw,
             da < 0.10 AS penalized
      FROM conf
    ),
    capped AS (
      SELECT *,
             MAX(CASE WHEN penalized AND w_raw > 0.10 THEN 1 ELSE 0 END)
               OVER wk AS has_capped,
             CASE WHEN penalized
                  THEN CASE WHEN w_raw > 0.10 THEN 0.10 ELSE w_raw END END AS fixed,
             SUM(CASE WHEN penalized
                  THEN CASE WHEN w_raw > 0.10 THEN 0.10 ELSE w_raw END END)
               OVER wk AS sum_fixed,
             SUM(CASE WHEN NOT penalized THEN w_raw END) OVER wk AS np_total
      FROM raw WINDOW wk AS (PARTITION BY user_id)
    )
    SELECT user_id, model, n,
           ROUND(rmse, 6) AS rmse,
           ROUND(te, 6) AS te,
           ROUND(da, 6) AS da,
           ROUND(confidence, 6) AS confidence,
           ROUND(CASE WHEN has_capped = 0 THEN w_raw
                      WHEN penalized THEN fixed
                      ELSE w_raw / np_total * GREATEST(1.0 - sum_fixed, 0.0)
                 END, 6) AS weight
    FROM capped
    WHERE np_total IS NOT NULL
    """,
)
def ensemble_confidence_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 full confidence derivation — reference
    `forcester_ts/ensemble.py:387-724` (`derive_model_confidence`) and
    `:26-96` (`_apply_da_cap`), per key and per candidate model:

    - relative-RMSE score vs the baseline model (1/(1+1.5·(ratio−1)),
      the reference's `_relative_rmse_score` curve);
    - relative tracking-error score (1.2 slope, `_relative_te_score`);
    - directional-accuracy score ((DA−0.5)/0.5, `_score_from_metrics`);
    - Phase-10 RMSE-rank hybrid (rank-normalized across the key's models);
    - 60/40 fit/prediction blend, every stage clipped to [0.05, 0.95];
    - confidence-scaled equal-candidate weights, then the Phase-7.17 DA
      cap: models with DA < 0.10 are capped at weight 0.10 and the freed
      mass is redistributed pro-rata to non-penalized models.

    The naive model (f_t = value_{t-1}) has 1-step DA ≈ 0 by construction
    — exactly the reference's "SAMOSSA DA=0 anomaly" — so the DA-cap
    branch is exercised on real data, not just fixtures. Pure window
    algebra: no UDF, one aggregation pass, scales per key."""
    s = _series(spark, sf_dir)
    wp = _w()

    def clip(c):
        return F.least(F.greatest(c, F.lit(0.05)), F.lit(0.95))

    f = s.select(
        "user_id",
        "rn",
        "value",
        F.lag("value").over(wp).alias("prev"),
        F.lag("value").over(wp).alias("f_naive"),
        F.avg("value").over(_w((-3, -1))).alias("f_ma3"),
        F.avg("value").over(_w((-10, -1))).alias("f_ma10"),
    ).filter(F.col("rn") >= 11)

    def rmse(c):
        return F.sqrt(F.avg(F.pow(F.col("value") - F.col(c), 2)))

    def te(c):
        return F.stddev_samp(F.col("value") - F.col(c))

    def da(c):
        return F.avg(
            F.when(
                F.signum(F.col(c) - F.col("prev"))
                == F.signum(F.col("value") - F.col("prev")),
                1.0,
            ).otherwise(0.0)
        )

    m = (
        f.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rmse("f_naive").alias("rmse_naive"),
            rmse("f_ma3").alias("rmse_ma3"),
            rmse("f_ma10").alias("rmse_ma10"),
            te("f_naive").alias("te_naive"),
            te("f_ma3").alias("te_ma3"),
            te("f_ma10").alias("te_ma10"),
            da("f_naive").alias("da_naive"),
            da("f_ma3").alias("da_ma3"),
            da("f_ma10").alias("da_ma10"),
        )
        .filter(F.col("n") > 30)
    )
    long = m.select(
        "user_id",
        "n",
        F.col("rmse_naive").alias("bl_rmse"),
        F.col("te_naive").alias("bl_te"),
        F.expr(
            "stack(3,"
            " 'naive', rmse_naive, te_naive, da_naive,"
            " 'ma3',   rmse_ma3,   te_ma3,   da_ma3,"
            " 'ma10',  rmse_ma10,  te_ma10,  da_ma10"
            ") as (model, rmse, te, da)"
        ),
    )
    wk = Window.partitionBy("user_id")
    rmse_c, te_c, da_c = F.col("rmse"), F.col("te"), F.col("da")
    scored = long.select(
        "user_id",
        "n",
        "model",
        "rmse",
        "te",
        "da",
        clip(1.0 / (1.0 + 1.5 * (rmse_c / F.col("bl_rmse") - 1.0))).alias("rel_rmse"),
        clip(1.0 / (1.0 + 1.2 * (te_c / F.col("bl_te") - 1.0))).alias("rel_te"),
        clip(F.greatest((da_c - 0.5) / 0.5, F.lit(0.0))).alias("da_score"),
        clip(
            1.0
            - (rmse_c - F.min("rmse").over(wk))
            / (F.max("rmse").over(wk) - F.min("rmse").over(wk) + 1e-10)
        ).alias("rmse_rank"),
    )
    conf = scored.select(
        "user_id",
        "n",
        "model",
        "rmse",
        "te",
        "da",
        clip(
            (
                clip(
                    0.6 * ((F.col("rel_rmse") + F.col("rel_te")) / 2.0)
                    + 0.4 * F.col("da_score")
                )
                + F.col("rmse_rank")
            )
            / 2.0
        ).alias("confidence"),
    )
    raw = conf.select(
        "*",
        (F.col("confidence") / F.sum("confidence").over(wk)).alias("w_raw"),
        (da_c < 0.10).alias("penalized"),
    )
    pen, w_raw = F.col("penalized"), F.col("w_raw")
    fixed = F.when(pen, F.when(w_raw > 0.10, F.lit(0.10)).otherwise(w_raw))
    capped = raw.select(
        "*",
        F.max(F.when(pen & (w_raw > 0.10), 1).otherwise(0)).over(wk).alias("has_capped"),
        fixed.alias("fixed"),
        F.sum(fixed).over(wk).alias("sum_fixed"),
        F.sum(F.when(~pen, w_raw)).over(wk).alias("np_total"),
    )
    weight = (
        F.when(F.col("has_capped") == 0, w_raw)
        .when(pen, F.col("fixed"))
        .otherwise(
            w_raw / F.col("np_total") * F.greatest(1.0 - F.col("sum_fixed"), F.lit(0.0))
        )
    )
    return capped.filter(F.col("np_total").isNotNull()).select(
        "user_id",
        "model",
        "n",
        r6("rmse").alias("rmse"),
        r6("te").alias("te"),
        r6("da").alias("da"),
        r6("confidence").alias("confidence"),
        r6(weight).alias("weight"),
    )


# ---------------------------------------------------------------------------
# S3 — provider failover as priority-resolved union
# ---------------------------------------------------------------------------


@query(
    "source_failover_coverage",
    oracle="""
    WITH src_a AS (
      SELECT event_id, user_id, value, 'primary' AS _source, 0 AS _priority
      FROM events WHERE user_id % 3 <> 0
    ),
    src_b AS (
      SELECT event_id, user_id, value * 0.5 AS value,
             'secondary' AS _source, 1 AS _priority
      FROM events
    ),
    u AS (SELECT * FROM src_a UNION ALL SELECT * FROM src_b),
    resolved AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                   ORDER BY _priority, _source) AS _rk
      FROM u
    )
    SELECT _source, CAST(_priority AS INT) AS _priority,
           COUNT(*) AS n_keys_served,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_value
    FROM resolved WHERE _rk = 1
    GROUP BY _source, _priority
    """,
)
def source_failover_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 failover manager — reference `etl/data_source_manager.py:95-160`
    (priority order) and `:369-437` (fallback until a source yields the
    key), resolved declaratively: a simulated primary outage (every
    third user's rows missing) fails those keys over to the
    lower-priority secondary feed; per-source coverage counts fall out
    of the same window pass. DECIMAL sum keeps the value checksum
    order-independent."""
    from ..sources.failover import failover_health, failover_union

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    primary = ev.filter(F.col("user_id") % 3 != 0)
    secondary = ev.withColumn("value", F.col("value") * 0.5)
    resolved = failover_union(
        [("primary", 0, primary), ("secondary", 1, secondary)], keys=["event_id"]
    )
    health = failover_health(resolved)
    sums = (
        resolved.groupBy("_source")
        .agg(
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("sum_value")
        )
    )
    return health.join(sums, "_source").select(
        "_source",
        F.col("_priority").cast("int").alias("_priority"),
        "n_keys_served",
        "sum_value",
    )


@query(
    "latency_percentiles_sketch",
    oracle="""
    SELECT event_type AS stage,
           COUNT(*) AS n,
           ROUND(QUANTILE_CONT(value, 0.50), 6) AS p50_exact,
           ROUND(QUANTILE_CONT(value, 0.95), 6) AS p95_exact,
           ROUND(QUANTILE_CONT(value, 0.99), 6) AS p99_exact,
           ROUND(MAX(value), 6) AS p_max,
           TRUE AS sketch_p50_ok,
           TRUE AS sketch_p95_ok,
           TRUE AS sketch_p99_ok
    FROM events GROUP BY event_type
    """,
)
def latency_percentiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.4 at 100 TB: the same percentile rollup on `approx_percentile`
    (Greenwald-Khanna sketch, mergeable across partitions — bounded
    memory per executor where exact percentile must shuffle every value).

    Oracle-backed ERROR-BOUND check (upgraded from rows-only): the
    sketch's cut points are engine-specific, so the estimates themselves
    can't hash-match — instead the query emits the oracle-checkable
    exact percentiles PLUS a per-cut assertion that the sketch value
    lands inside the exact [p−0.01, p+0.01] value envelope (accuracy
    1e4 → rank error ≤ n/1e4, far inside ±1% of rank). The oracle emits
    TRUE for each assertion: a sketch drifting out of bound flips the
    flag and breaks the hash. The pytest gate additionally bounds the
    numeric error against the exact query."""
    ev = load_table(spark, sf_dir, "events")
    acc = F.lit(10000)

    def ok(p):  # sketch value inside the exact ±1%-of-rank envelope
        return (
            F.approx_percentile("value", F.lit(p), acc)
            >= F.percentile("value", F.lit(p - 0.01))
        ) & (
            F.approx_percentile("value", F.lit(p), acc)
            <= F.percentile("value", F.lit(p + 0.01))
        )

    return ev.groupBy(F.col("event_type").alias("stage")).agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.percentile("value", F.lit(0.50))).alias("p50_exact"),
        r6(F.percentile("value", F.lit(0.95))).alias("p95_exact"),
        r6(F.percentile("value", F.lit(0.99))).alias("p99_exact"),
        r6(F.max("value")).alias("p_max"),
        ok(0.50).alias("sketch_p50_ok"),
        ok(0.95).alias("sketch_p95_ok"),
        ok(0.99).alias("sketch_p99_ok"),
    )


# ---------------------------------------------------------------------------
# F5+ — REGIME-CONDITIONAL ensemble weight selection (the reference's
# headline published capability)
# ---------------------------------------------------------------------------


@query(
    "regime_ensemble_weights",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    q AS (
      SELECT user_id, rn, value,
             CAST(FLOOR(LEAST(GREATEST(value / LAG(value, 1) OVER wp - 1,
                                       -1.0), 10.0) * 1000000 + 0.5) AS BIGINT)
               AS lr6,
             LAG(value, 1) OVER wp AS f_naive,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
               AS f_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
               AS f_ma10,
             MAX(rn) OVER (PARTITION BY user_id) AS n_k
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    sig AS (
      SELECT user_id, rn, value, f_naive, f_ma3, f_ma10, n_k,
             COUNT(lr6) OVER w20 AS n20,
             SUM(lr6) OVER w20 AS t20,
             SUM(lr6 * lr6) OVER w20 AS u20
      FROM q
      WINDOW w20 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    feat AS (
      SELECT user_id, rn, value, f_naive, f_ma3, f_ma10,
             CAST(FLOOR(SQRT(GREATEST((CAST(u20 AS DOUBLE)
                    - CAST(t20 AS DOUBLE)*CAST(t20 AS DOUBLE)/n20)
                    / (n20 - 1), 0)) + 0.5) AS BIGINT) AS s20_i,
             CASE WHEN rn <= CAST(FLOOR(n_k * 0.7) AS BIGINT)
                  THEN 1 ELSE 0 END AS is_train
      FROM sig WHERE rn >= 21
    ),
    cuts AS (
      SELECT QUANTILE_CONT(s20_i, 0.3333333333333333) AS q33,
             QUANTILE_CONT(s20_i, 0.6666666666666666) AS q66
      FROM feat WHERE is_train = 1
    ),
    lab AS (
      SELECT f.*, CASE WHEN f.s20_i <= c.q33 THEN 0
                       WHEN f.s20_i <= c.q66 THEN 1 ELSE 2 END AS regime
      FROM feat f CROSS JOIN cuts c
    ),
    rw AS (
      SELECT user_id, regime,
             SQRT(AVG(POWER(value - f_naive, 2))) AS r_n,
             SQRT(AVG(POWER(value - f_ma3, 2)))   AS r_3,
             SQRT(AVG(POWER(value - f_ma10, 2)))  AS r_10
      FROM lab WHERE is_train = 1
      GROUP BY user_id, regime
    ),
    rwn AS (
      SELECT user_id, regime,
             ROUND((1/r_n)  / (1/r_n + 1/r_3 + 1/r_10), 6) AS wr_n,
             ROUND((1/r_3)  / (1/r_n + 1/r_3 + 1/r_10), 6) AS wr_3,
             ROUND((1/r_10) / (1/r_n + 1/r_3 + 1/r_10), 6) AS wr_10
      FROM rw
    ),
    gw AS (
      SELECT user_id,
             SQRT(AVG(POWER(value - f_naive, 2))) AS r_n,
             SQRT(AVG(POWER(value - f_ma3, 2)))   AS r_3,
             SQRT(AVG(POWER(value - f_ma10, 2)))  AS r_10
      FROM lab WHERE is_train = 1
      GROUP BY user_id
    ),
    gwn AS (
      SELECT user_id,
             ROUND((1/r_n)  / (1/r_n + 1/r_3 + 1/r_10), 6) AS wg_n,
             ROUND((1/r_3)  / (1/r_n + 1/r_3 + 1/r_10), 6) AS wg_3,
             ROUND((1/r_10) / (1/r_n + 1/r_3 + 1/r_10), 6) AS wg_10
      FROM gw
    ),
    ho AS (
      SELECT l.user_id, l.value, l.regime,
             COALESCE(r.wr_n,  g.wg_n)  * l.f_naive
           + COALESCE(r.wr_3,  g.wg_3)  * l.f_ma3
           + COALESCE(r.wr_10, g.wg_10) * l.f_ma10 AS b_r,
             g.wg_n * l.f_naive + g.wg_3 * l.f_ma3
           + g.wg_10 * l.f_ma10 AS b_g
      FROM lab l
      JOIN gwn g ON g.user_id = l.user_id
      LEFT JOIN rwn r ON r.user_id = l.user_id AND r.regime = l.regime
      WHERE l.is_train = 0
    )
    SELECT user_id, COUNT(*) AS n_holdout,
           COUNT(DISTINCT regime) AS n_regimes_holdout,
           ROUND(SQRT(AVG(POWER(value - b_r, 2))), 6) AS rmse_regime,
           ROUND(SQRT(AVG(POWER(value - b_g, 2))), 6) AS rmse_global
    FROM ho GROUP BY user_id
    """,
)
def regime_ensemble_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 regime-CONDITIONAL ensemble weight selection — the reference's
    headline published capability: per-regime weight optimization is where
    its 60.7-65.1% RMSE improvement comes from (reference
    `README.md:412-418` — e.g. 72% SAMOSSA weight in CRISIS, 90% in
    MODERATE_TRENDING — and `forcester_ts/ensemble.py:158-294`, weight
    selection conditioned on the market-regime label from
    `market_analyzer`).

    Spark-first re-expression: one window pass builds the three
    forecasters AND the W8 vol-regime feature (20-bar sigma of quantized
    returns — exact integer sums, the `drift_vol_regimes` trick, so the
    tercile cut is bit-stable across engines); rows split 70/30
    train/holdout per key on the row index; inverse-RMSE weights are
    selected per (key, regime) on train (vs one global weight vector per
    key); both blends are scored on the HOLDOUT — the output exposes
    held-out `rmse_regime` vs `rmse_global` per key so the improvement
    claim is directly auditable. Weights are rounded to 6dp before
    blending on BOTH engines (collapses sub-ulp drift in the weight
    ratios). A holdout regime unseen in training falls back to the
    global weights via COALESCE (the reference's deterministic-fallback
    behavior, `ensemble.py:146-156`).

    Scale shape: two window passes on the (user_id)-clustered series, the
    tercile cut is a broadcast scalar, weight tables join back on
    (user_id[, regime]) — facts shuffle once; weight tables are
    key-cardinality (tiny) and AQE broadcasts them."""
    lab, rwn, gwn = regime_weight_frames(spark, sf_dir)
    ho = (
        lab.filter(F.col("is_train") == 0)
        .join(gwn, "user_id")
        .join(rwn, ["user_id", "regime"], "left")
        .select(
            "user_id",
            "value",
            "regime",
            (
                F.coalesce(F.col("wr_n"), F.col("wg_n")) * F.col("f_naive")
                + F.coalesce(F.col("wr_3"), F.col("wg_3")) * F.col("f_ma3")
                + F.coalesce(F.col("wr_10"), F.col("wg_10")) * F.col("f_ma10")
            ).alias("b_r"),
            (
                F.col("wg_n") * F.col("f_naive")
                + F.col("wg_3") * F.col("f_ma3")
                + F.col("wg_10") * F.col("f_ma10")
            ).alias("b_g"),
        )
    )
    return ho.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_holdout"),
        F.countDistinct("regime").alias("n_regimes_holdout"),
        r6(F.sqrt(F.avg(F.pow(F.col("value") - F.col("b_r"), 2)))).alias(
            "rmse_regime"
        ),
        r6(F.sqrt(F.avg(F.pow(F.col("value") - F.col("b_g"), 2)))).alias(
            "rmse_global"
        ),
    )


def regime_weight_frames(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """Shared frames for regime-conditional weighting: the labelled series
    (`lab`: forecasts + regime + train/holdout flag), the per-(key, regime)
    weight table (`rwn`) and the per-key global weight table (`gwn`)."""
    s = _series(spark, sf_dir)
    wp = _w()
    ret = F.least(
        F.greatest(F.col("value") / F.lag("value", 1).over(wp) - 1, F.lit(-1.0)),
        F.lit(10.0),
    )
    q = s.select(
        "user_id",
        "rn",
        "value",
        F.floor(ret * 1000000 + 0.5).cast("bigint").alias("lr6"),
        F.lag("value", 1).over(wp).alias("f_naive"),
        F.avg("value").over(_w((-3, -1))).alias("f_ma3"),
        F.avg("value").over(_w((-10, -1))).alias("f_ma10"),
        F.max("rn").over(Window.partitionBy("user_id")).alias("n_k"),
    )
    w20 = _w((-19, 0))
    sig = q.select(
        "user_id",
        "rn",
        "value",
        "f_naive",
        "f_ma3",
        "f_ma10",
        "n_k",
        F.count("lr6").over(w20).alias("n20"),
        F.sum("lr6").over(w20).alias("t20"),
        F.sum(F.col("lr6") * F.col("lr6")).over(w20).alias("u20"),
    )
    t20d = F.col("t20").cast("double")
    u20d = F.col("u20").cast("double")
    n20 = F.col("n20")
    sigma_micro = F.sqrt(
        F.greatest((u20d - t20d * t20d / n20) / (n20 - 1), F.lit(0.0))
    )
    feat = sig.filter(F.col("rn") >= 21).select(
        "user_id",
        "rn",
        "value",
        "f_naive",
        "f_ma3",
        "f_ma10",
        F.floor(sigma_micro + 0.5).cast("bigint").alias("s20_i"),
        F.when(
            F.col("rn") <= F.floor(F.col("n_k") * 0.7).cast("bigint"), 1
        )
        .otherwise(0)
        .alias("is_train"),
    )
    cuts = feat.filter(F.col("is_train") == 1).agg(
        F.percentile(F.col("s20_i"), F.lit(1.0 / 3.0)).alias("q33"),
        F.percentile(F.col("s20_i"), F.lit(2.0 / 3.0)).alias("q66"),
    )
    regime = (
        F.when(F.col("s20_i") <= F.col("q33"), 0)
        .when(F.col("s20_i") <= F.col("q66"), 1)
        .otherwise(2)
    )
    lab = feat.crossJoin(F.broadcast(cuts)).withColumn("regime", regime)

    def rmse(c):
        return F.sqrt(F.avg(F.pow(F.col("value") - F.col(c), 2)))

    # per-regime AND per-key-global weights from ONE rollup pass
    # (optimization round 13, guide §2.4): the separate groupBys each
    # re-embedded the full two-window feature subtree; ROLLUP(user_id,
    # regime) computes both grains on one exchange, and the
    # (key x regime)-grain result is pinned so the weight tables don't
    # re-execute it per join. Global rows are the rollup's regime-null
    # level (regime itself is never null: it's a 0/1/2 CASE).
    train = lab.filter(F.col("is_train") == 1)
    rollagg = (
        train.rollup("user_id", "regime")
        .agg(
            rmse("f_naive").alias("r_n"),
            rmse("f_ma3").alias("r_3"),
            rmse("f_ma10").alias("r_10"),
            F.grouping_id().alias("gid"),
        )
        .filter(F.col("gid") < 2)  # drop the grand-total row
        .localCheckpoint(eager=False)  # (key x regime) grain
    )
    z = 1 / F.col("r_n") + 1 / F.col("r_3") + 1 / F.col("r_10")
    rwn = rollagg.filter(F.col("gid") == 0).select(
        "user_id",
        "regime",
        r6((1 / F.col("r_n")) / z).alias("wr_n"),
        r6((1 / F.col("r_3")) / z).alias("wr_3"),
        r6((1 / F.col("r_10")) / z).alias("wr_10"),
    )
    gwn = rollagg.filter(F.col("gid") == 1).select(
        "user_id",
        r6((1 / F.col("r_n")) / z).alias("wg_n"),
        r6((1 / F.col("r_3")) / z).alias("wg_3"),
        r6((1 / F.col("r_10")) / z).alias("wg_10"),
    )
    return lab, rwn, gwn


# ---------------------------------------------------------------------------
# F5 — candidate-weight selection ladder (the reference's select_weights)
# ---------------------------------------------------------------------------


@query(
    "ensemble_candidate_selection",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value,
             LAG(value, 1) OVER wp AS prev,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
               AS f_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
               AS f_ma10
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
      QUALIFY rn >= 11
    ),
    m AS (
      SELECT user_id, COUNT(*) AS n,
             SQRT(AVG(POWER(value - prev, 2)))  AS r_n,
             SQRT(AVG(POWER(value - f_ma3, 2))) AS r_3,
             SQRT(AVG(POWER(value - f_ma10, 2))) AS r_10,
             AVG(CASE WHEN SIGN(value - prev) = 0 THEN 1.0 ELSE 0.0 END)
               AS da_n,
             AVG(CASE WHEN SIGN(f_ma3 - prev) = SIGN(value - prev)
                      THEN 1.0 ELSE 0.0 END) AS da_3,
             AVG(CASE WHEN SIGN(f_ma10 - prev) = SIGN(value - prev)
                      THEN 1.0 ELSE 0.0 END) AS da_10
      FROM f GROUP BY user_id HAVING COUNT(*) > 10
    ),
    c AS (
      SELECT user_id, n, da_n, da_3, da_10,
             (1/r_n)  / (1/r_n + 1/r_3 + 1/r_10) AS c_n,
             (1/r_3)  / (1/r_n + 1/r_3 + 1/r_10) AS c_3,
             (1/r_10) / (1/r_n + 1/r_3 + 1/r_10) AS c_10,
             GREATEST(0.0, (da_n  - 0.40) / 0.20) AS dw_n,
             GREATEST(0.0, (da_3  - 0.40) / 0.20) AS dw_3,
             GREATEST(0.0, (da_10 - 0.40) / 0.20) AS dw_10
      FROM m
    ),
    sc AS (
      SELECT user_id, n, c_n, c_3, c_10, dw_n, dw_3, dw_10,
             (c_n + c_3 + c_10) / 3.0 AS s_equal,
             0.6*c_n + 0.2*c_3 + 0.2*c_10 AS s_momentum,
             0.2*c_n + 0.4*c_3 + 0.4*c_10 AS s_smooth,
             CASE WHEN dw_n + dw_3 + dw_10 = 0 THEN -1.0
                  ELSE (dw_n*c_n + dw_3*c_3 + dw_10*c_10)
                       / (dw_n + dw_3 + dw_10) END AS s_da
      FROM c
    )
    SELECT user_id, n,
           CASE GREATEST(s_equal, s_momentum, s_smooth, s_da)
                WHEN s_da THEN 'auto_directional'
                WHEN s_momentum THEN 'momentum'
                WHEN s_smooth THEN 'smooth'
                ELSE 'equal' END AS candidate,
           ROUND(GREATEST(s_equal, s_momentum, s_smooth, s_da), 6)
             AS selection_score,
           ROUND(s_equal, 6) AS s_equal,
           ROUND(s_momentum, 6) AS s_momentum,
           ROUND(s_smooth, 6) AS s_smooth,
           ROUND(s_da, 6) AS s_da
    FROM sc
    """,
)
def ensemble_candidate_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 proper: the reference's candidate-weight selection ladder
    (`forcester_ts/ensemble.py:158-294` ``select_weights``): a fixed
    candidate list (equal / momentum-heavy / smoothing-heavy) PLUS the
    Phase-7.10b data-driven ``auto_directional`` candidate whose weights
    are proportional to max(0, (DA − 0.40)/0.20) per model
    (`ensemble.py:180-195`), each scored by the confidence-weighted
    expected quality Σ w·confidence (confidence = normalized inverse
    walk-forward RMSE, the `derive_model_confidence` shape) — argmax
    candidate wins; a DA candidate with no qualifying model is excluded
    exactly as the reference drops empty candidates. Ties resolve in the
    reference's candidate order (adaptive/DA first). Pure column algebra:
    one window pass, one groupBy, a four-way CASE — no explode, no UDF.

    The naive lag-1 model's predicted direction is 0 (no change), so its
    DA is the no-change hit rate — the same degenerate-DA behavior the
    reference's DA cap exists for (`_apply_da_cap`)."""
    f = _baseline_forecasts(spark, sf_dir)

    def rmse(c):
        return F.sqrt(F.avg(F.pow(F.col("value") - F.col(c), 2)))

    def da(c):
        return F.avg(
            (
                F.signum(F.col(c) - F.col("prev"))
                == F.signum(F.col("value") - F.col("prev"))
            ).cast("double")
        )

    m = (
        f.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rmse("prev").alias("r_n"),
            rmse("f_ma3").alias("r_3"),
            rmse("f_ma10").alias("r_10"),
            F.avg(
                (F.signum(F.col("value") - F.col("prev")) == 0).cast("double")
            ).alias("da_n"),
            da("f_ma3").alias("da_3"),
            da("f_ma10").alias("da_10"),
        )
        .filter(F.col("n") > 10)
    )
    z = 1 / F.col("r_n") + 1 / F.col("r_3") + 1 / F.col("r_10")
    c = m.select(
        "user_id",
        "n",
        ((1 / F.col("r_n")) / z).alias("c_n"),
        ((1 / F.col("r_3")) / z).alias("c_3"),
        ((1 / F.col("r_10")) / z).alias("c_10"),
        F.greatest(F.lit(0.0), (F.col("da_n") - 0.40) / 0.20).alias("dw_n"),
        F.greatest(F.lit(0.0), (F.col("da_3") - 0.40) / 0.20).alias("dw_3"),
        F.greatest(F.lit(0.0), (F.col("da_10") - 0.40) / 0.20).alias("dw_10"),
    )
    zd = F.col("dw_n") + F.col("dw_3") + F.col("dw_10")
    sc = c.select(
        "user_id",
        "n",
        ((F.col("c_n") + F.col("c_3") + F.col("c_10")) / 3.0).alias("s_equal"),
        (0.6 * F.col("c_n") + 0.2 * F.col("c_3") + 0.2 * F.col("c_10")).alias(
            "s_momentum"
        ),
        (0.2 * F.col("c_n") + 0.4 * F.col("c_3") + 0.4 * F.col("c_10")).alias(
            "s_smooth"
        ),
        F.when(zd == 0, -1.0)
        .otherwise(
            (
                F.col("dw_n") * F.col("c_n")
                + F.col("dw_3") * F.col("c_3")
                + F.col("dw_10") * F.col("c_10")
            )
            / zd
        )
        .alias("s_da"),
    )
    best = F.greatest("s_equal", "s_momentum", "s_smooth", "s_da")
    candidate = (
        F.when(best == F.col("s_da"), "auto_directional")
        .when(best == F.col("s_momentum"), "momentum")
        .when(best == F.col("s_smooth"), "smooth")
        .otherwise("equal")
    )
    return sc.select(
        "user_id",
        "n",
        candidate.alias("candidate"),
        r6(best).alias("selection_score"),
        r6(F.col("s_equal")).alias("s_equal"),
        r6(F.col("s_momentum")).alias("s_momentum"),
        r6(F.col("s_smooth")).alias("s_smooth"),
        r6(F.col("s_da")).alias("s_da"),
    )


# ---------------------------------------------------------------------------
# F5 — minimum-component pruning + diversity-preferred final selection
# ---------------------------------------------------------------------------

# Reference EnsembleConfig defaults (`forcester_ts/ensemble.py:99-134`):
# minimum_component_weight = 0.05, diversity_tolerance = 0.35.
_ENS_MIN_W = 0.05
_ENS_DIV_TOL = 0.35


@query(
    "ensemble_diversified_selection",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value,
             LAG(value, 1) OVER wp AS prev,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
               AS f_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
               AS f_ma10
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
      QUALIFY rn >= 11
    ),
    m AS (
      SELECT user_id, COUNT(*) AS n,
             SQRT(AVG(POWER(value - prev, 2)))  AS r_n,
             SQRT(AVG(POWER(value - f_ma3, 2))) AS r_3,
             SQRT(AVG(POWER(value - f_ma10, 2))) AS r_10
      FROM f GROUP BY user_id HAVING COUNT(*) > 10
    ),
    c AS (
      SELECT user_id, n,
             (1/r_n)  / (1/r_n + 1/r_3 + 1/r_10) AS c_n,
             (1/r_3)  / (1/r_n + 1/r_3 + 1/r_10) AS c_3,
             (1/r_10) / (1/r_n + 1/r_3 + 1/r_10) AS c_10
      FROM m
    ),
    cand(ord, candidate, w_n, w_3, w_10) AS (
      VALUES (1, 'equal',      1.0/3.0, 1.0/3.0, 1.0/3.0),
             (2, 'momentum',   0.6, 0.2, 0.2),
             (3, 'smooth',     0.2, 0.4, 0.4),
             (4, 'pure_naive', 1.0, 0.0, 0.0),
             (5, 'pure_ma10',  0.0, 0.0, 1.0)
    ),
    norm AS (
      SELECT c.user_id, c.n, cand.ord, cand.candidate, c.c_n, c.c_3, c.c_10,
             cand.w_n*c.c_n / (cand.w_n*c.c_n + cand.w_3*c.c_3 + cand.w_10*c.c_10) AS nw_n,
             cand.w_3*c.c_3 / (cand.w_n*c.c_n + cand.w_3*c.c_3 + cand.w_10*c.c_10) AS nw_3,
             cand.w_10*c.c_10 / (cand.w_n*c.c_n + cand.w_3*c.c_3 + cand.w_10*c.c_10) AS nw_10
      FROM c CROSS JOIN cand
    ),
    pruned AS (
      SELECT *,
             CASE WHEN nw_n  >= {_ENS_MIN_W} THEN nw_n  ELSE 0.0 END
           + CASE WHEN nw_3  >= {_ENS_MIN_W} THEN nw_3  ELSE 0.0 END
           + CASE WHEN nw_10 >= {_ENS_MIN_W} THEN nw_10 ELSE 0.0 END AS ks,
             CASE WHEN nw_n  >= {_ENS_MIN_W} THEN 1 ELSE 0 END
           + CASE WHEN nw_3  >= {_ENS_MIN_W} THEN 1 ELSE 0 END
           + CASE WHEN nw_10 >= {_ENS_MIN_W} THEN 1 ELSE 0 END AS n_comp
      FROM norm
    ),
    scored AS (
      SELECT user_id, n, ord, candidate, n_comp,
             CASE WHEN nw_n  >= {_ENS_MIN_W} THEN nw_n  / ks ELSE 0.0 END AS fw_n,
             CASE WHEN nw_3  >= {_ENS_MIN_W} THEN nw_3  / ks ELSE 0.0 END AS fw_3,
             CASE WHEN nw_10 >= {_ENS_MIN_W} THEN nw_10 / ks ELSE 0.0 END AS fw_10,
             CASE WHEN nw_n  >= {_ENS_MIN_W} THEN nw_n  / ks ELSE 0.0 END * c_n
           + CASE WHEN nw_3  >= {_ENS_MIN_W} THEN nw_3  / ks ELSE 0.0 END * c_3
           + CASE WHEN nw_10 >= {_ENS_MIN_W} THEN nw_10 / ks ELSE 0.0 END * c_10 AS score
      FROM pruned
    ),
    ranked AS (
      SELECT *,
             MAX(score) OVER (PARTITION BY user_id) AS top_score,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY score DESC, ord)
               AS rn_all
      FROM scored
    ),
    flagged AS (
      SELECT *,
             CASE WHEN n_comp >= 2
                   AND score >= top_score * (1.0 - {_ENS_DIV_TOL})
                  THEN 1 ELSE 0 END AS q
      FROM ranked
    ),
    dranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY q DESC, score DESC, ord) AS rn_div
      FROM flagged
    ),
    best AS (SELECT * FROM dranked WHERE rn_all = 1),
    dv   AS (SELECT * FROM dranked WHERE rn_div = 1 AND q = 1)
    SELECT b.user_id, b.n,
           b.candidate AS best_candidate,
           ROUND(b.score, 6) AS best_score,
           b.n_comp AS best_n_components,
           CASE WHEN b.n_comp <= 1 AND d.candidate IS NOT NULL
                THEN d.candidate ELSE b.candidate END AS selected_candidate,
           ROUND(CASE WHEN b.n_comp <= 1 AND d.candidate IS NOT NULL
                      THEN d.score ELSE b.score END, 6) AS selected_score,
           CASE WHEN b.n_comp <= 1 AND d.candidate IS NOT NULL
                 AND d.candidate <> b.candidate
                THEN 1 ELSE 0 END AS diversified_override,
           ROUND(CASE WHEN b.n_comp <= 1 AND d.candidate IS NOT NULL
                      THEN d.fw_n ELSE b.fw_n END, 6) AS w_naive,
           ROUND(CASE WHEN b.n_comp <= 1 AND d.candidate IS NOT NULL
                      THEN d.fw_3 ELSE b.fw_3 END, 6) AS w_ma3,
           ROUND(CASE WHEN b.n_comp <= 1 AND d.candidate IS NOT NULL
                      THEN d.fw_10 ELSE b.fw_10 END, 6) AS w_ma10
    FROM best b LEFT JOIN dv d ON b.user_id = d.user_id
    """,
)
def ensemble_diversified_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 final-selection semantics the candidate ladder omitted — reference
    `forcester_ts/ensemble.py:145-156` (``_apply_minimum_component_weight``:
    confidence-scaled candidate weights below 0.05 are pruned and the
    remainder renormalized) and `:262-271` (``prefer_diversified_candidate``:
    when the argmax candidate has a single surviving component, the
    best-scoring candidate with >= 2 components within the 35% diversity
    tolerance wins instead). Candidate list mirrors the reference's shape —
    three blended candidates plus two single-model ones (`ensemble.py:
    111-126` ends in pure {"garch":1.0}-style entries), so the pure
    candidates genuinely contend: a pure candidate scores its model's full
    confidence c while a blend scores ~ sum(c^2) < max(c), which is exactly
    why the reference needs the diversity override. The DA cap that runs
    between pruning and scoring is covered by `ensemble_confidence_weights`.

    The all-components-pruned fallback (`ensemble.py:151-155`, top model at
    1.0) is structurally dead here: three normalized weights cannot all be
    below 0.05, so the CASE ladder never needs that branch.

    Scale: one window pass + one groupBy per user, then a 5-row broadcast
    candidate dim and two per-user single-row frames joined on user_id —
    every post-agg frame is key-cardinality, never row-cardinality."""
    f = _baseline_forecasts(spark, sf_dir)

    def rmse(c):
        return F.sqrt(F.avg(F.pow(F.col("value") - F.col(c), 2)))

    m = (
        f.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rmse("prev").alias("r_n"),
            rmse("f_ma3").alias("r_3"),
            rmse("f_ma10").alias("r_10"),
        )
        .filter(F.col("n") > 10)
    )
    z = 1 / F.col("r_n") + 1 / F.col("r_3") + 1 / F.col("r_10")
    c = m.select(
        "user_id",
        "n",
        ((1 / F.col("r_n")) / z).alias("c_n"),
        ((1 / F.col("r_3")) / z).alias("c_3"),
        ((1 / F.col("r_10")) / z).alias("c_10"),
    )
    cand = literal_grid(
        spark,
        [
            (1, "equal", 1.0 / 3.0, 1.0 / 3.0, 1.0 / 3.0),
            (2, "momentum", 0.6, 0.2, 0.2),
            (3, "smooth", 0.2, 0.4, 0.4),
            (4, "pure_naive", 1.0, 0.0, 0.0),
            (5, "pure_ma10", 0.0, 0.0, 1.0),
        ],
        "ord INT, candidate STRING, w_n DOUBLE, w_3 DOUBLE, w_10 DOUBLE",
    )
    tot = (
        F.col("w_n") * F.col("c_n")
        + F.col("w_3") * F.col("c_3")
        + F.col("w_10") * F.col("c_10")
    )
    norm = c.crossJoin(F.broadcast(cand)).select(
        "user_id",
        "n",
        "ord",
        "candidate",
        "c_n",
        "c_3",
        "c_10",
        (F.col("w_n") * F.col("c_n") / tot).alias("nw_n"),
        (F.col("w_3") * F.col("c_3") / tot).alias("nw_3"),
        (F.col("w_10") * F.col("c_10") / tot).alias("nw_10"),
    )

    def kept(col):
        return F.when(F.col(col) >= _ENS_MIN_W, F.col(col)).otherwise(F.lit(0.0))

    ks = kept("nw_n") + kept("nw_3") + kept("nw_10")
    n_comp = (
        (F.col("nw_n") >= _ENS_MIN_W).cast("int")
        + (F.col("nw_3") >= _ENS_MIN_W).cast("int")
        + (F.col("nw_10") >= _ENS_MIN_W).cast("int")
    )
    pruned = norm.select(
        "user_id",
        "n",
        "ord",
        "candidate",
        "c_n",
        "c_3",
        "c_10",
        ks.alias("ks"),
        n_comp.alias("n_comp"),
        *[F.col(f"nw_{t}") for t in ("n", "3", "10")],
    )

    def fw(t):
        return F.when(
            F.col(f"nw_{t}") >= _ENS_MIN_W, F.col(f"nw_{t}") / F.col("ks")
        ).otherwise(F.lit(0.0))

    scored = pruned.select(
        "user_id",
        "n",
        "ord",
        "candidate",
        "n_comp",
        fw("n").alias("fw_n"),
        fw("3").alias("fw_3"),
        fw("10").alias("fw_10"),
        (
            fw("n") * F.col("c_n")
            + fw("3") * F.col("c_3")
            + fw("10") * F.col("c_10")
        ).alias("score"),
    )
    wu = Window.partitionBy("user_id")
    ranked = scored.select(
        "*",
        F.max("score").over(wu).alias("top_score"),
        F.row_number()
        .over(wu.orderBy(F.col("score").desc(), "ord"))
        .alias("rn_all"),
    )
    flagged = ranked.withColumn(
        "q",
        (
            (F.col("n_comp") >= 2)
            & (F.col("score") >= F.col("top_score") * (1.0 - _ENS_DIV_TOL))
        ).cast("int"),
    )
    dranked = flagged.withColumn(
        "rn_div",
        F.row_number().over(
            wu.orderBy(F.col("q").desc(), F.col("score").desc(), "ord")
        ),
    )
    best = dranked.filter(F.col("rn_all") == 1).alias("b")
    dv = (
        dranked.filter((F.col("rn_div") == 1) & (F.col("q") == 1)).alias("d")
    )
    use_div = (F.col("b.n_comp") <= 1) & F.col("d.candidate").isNotNull()

    def pick(col):
        return F.when(use_div, F.col(f"d.{col}")).otherwise(F.col(f"b.{col}"))

    return best.join(dv, F.col("b.user_id") == F.col("d.user_id"), "left").select(
        F.col("b.user_id").alias("user_id"),
        F.col("b.n").alias("n"),
        F.col("b.candidate").alias("best_candidate"),
        r6(F.col("b.score")).alias("best_score"),
        F.col("b.n_comp").alias("best_n_components"),
        pick("candidate").alias("selected_candidate"),
        r6(pick("score")).alias("selected_score"),
        (use_div & (F.col("d.candidate") != F.col("b.candidate")))
        .cast("int")
        .alias("diversified_override"),
        r6(pick("fw_n")).alias("w_naive"),
        r6(pick("fw_3")).alias("w_ma3"),
        r6(pick("fw_10")).alias("w_ma10"),
    )


# ---------------------------------------------------------------------------
# Strategy optimizer — sampled candidates, constraint gate, capped scoring
# ---------------------------------------------------------------------------

# Reference `etl/strategy_optimizer.py`: candidate count, the score cap
# (`:152`, _BARBELL_SCORE_CAP), objective weights and min/max constraints
# (config-driven there; pinned constants here, interpolated into BOTH
# engines).
_SO_N_CANDS = 64
_SO_SCORE_CAP = 1e6
_SO_MIN_TRADES = 10
_SO_MIN_WINRATE = 0.30
_SO_MAX_VOL = 10.0
_SO_W_SHARPE, _SO_W_WINRATE, _SO_W_PF = 0.5, 0.3, 0.2
_SO_TOPK = 10

_SO_HASH = "('0x' || SUBSTR(MD5('cand|' || i || '|{tag}'), 1, 6))::BIGINT / 16777216.0"


@query(
    "strategy_candidate_search",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value,
             value / LAG(value, 1) OVER wp - 1 AS mom1,
             value / LAG(value, 2) OVER wp - 1 AS mom2,
             value / LAG(value, 3) OVER wp - 1 AS mom3,
             value / LAG(value, 4) OVER wp - 1 AS mom4,
             LEAD(value, 1) OVER wp / value - 1 AS fwd
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    cand AS (
      SELECT i AS cand_id,
             0.05 + ({_SO_HASH.format(tag="t")}) * 1.95 AS threshold,
             CAST(1 + FLOOR(({_SO_HASH.format(tag="k")}) * 4) AS INT) AS lookback,
             CASE WHEN {_SO_HASH.format(tag="s")} < 0.5
                  THEN 'long' ELSE 'both' END AS side
      FROM (SELECT UNNEST(RANGE(0, {_SO_N_CANDS})) AS i)
    ),
    tr AS (
      SELECT c.cand_id, c.threshold, c.lookback, c.side,
             CASE WHEN (CASE c.lookback WHEN 1 THEN f.mom1 WHEN 2 THEN f.mom2
                             WHEN 3 THEN f.mom3 ELSE f.mom4 END) > c.threshold
                    THEN f.fwd
                  WHEN c.side = 'both'
                   AND (CASE c.lookback WHEN 1 THEN f.mom1 WHEN 2 THEN f.mom2
                             WHEN 3 THEN f.mom3 ELSE f.mom4 END) < -c.threshold
                    THEN -f.fwd
             END AS pnl
      FROM f CROSS JOIN cand c
      WHERE f.fwd IS NOT NULL
    ),
    m AS (
      SELECT cand_id, threshold, lookback, side,
             COUNT(*) AS n_trades,
             SUM(pnl) AS s1, SUM(pnl * pnl) AS s2,
             AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
             SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END) AS gross_win,
             SUM(CASE WHEN pnl < 0 THEN -pnl ELSE 0 END) AS gross_loss
      FROM tr WHERE pnl IS NOT NULL
      GROUP BY cand_id, threshold, lookback, side
    ),
    sc AS (
      SELECT *, s1 / n_trades AS mean_ret,
             SQRT(GREATEST((s2 - s1 * s1 / n_trades) / (n_trades - 1), 0))
               AS vol
      FROM m WHERE n_trades >= {_SO_MIN_TRADES}
    ),
    scored AS (
      SELECT cand_id, threshold, lookback, side, n_trades, win_rate,
             mean_ret / vol AS sharpe,
             CASE WHEN gross_loss = 0 THEN {_SO_SCORE_CAP}
                  ELSE LEAST(gross_win / gross_loss, {_SO_SCORE_CAP})
             END AS profit_factor
      FROM sc
      WHERE vol > 0 AND win_rate >= {_SO_MIN_WINRATE} AND vol <= {_SO_MAX_VOL}
    )
    SELECT CAST(cand_id AS BIGINT) AS cand_id,
           ROUND(threshold, 6) AS threshold, lookback, side,
           CAST(n_trades AS BIGINT) AS n_trades,
           ROUND(win_rate, 6) AS win_rate,
           ROUND(sharpe, 6) AS sharpe,
           ROUND(profit_factor, 6) AS profit_factor,
           ROUND({_SO_W_SHARPE} * GREATEST(-{_SO_SCORE_CAP}, LEAST({_SO_SCORE_CAP}, sharpe))
               + {_SO_W_WINRATE} * GREATEST(-{_SO_SCORE_CAP}, LEAST({_SO_SCORE_CAP}, win_rate))
               + {_SO_W_PF} * GREATEST(-{_SO_SCORE_CAP}, LEAST({_SO_SCORE_CAP}, profit_factor)),
               6) AS score
    FROM scored
    ORDER BY score DESC, cand_id
    LIMIT {_SO_TOPK}
    """,
)
def strategy_candidate_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's StrategyOptimizer as one declarative query —
    `etl/strategy_optimizer.py:43-213`: sample a typed search space
    (continuous threshold, integer lookback, categorical side,
    `sample_candidate` `:71-90`), evaluate every candidate on history,
    fail-closed constraint gate (`_apply_constraints` `:92-140`:
    total_trades > 0, min/max metric thresholds, NaN rejects), weighted-sum
    score with the ±1e6 cap on infinite metrics (`score_metrics`
    `:142-169`), and descending-score selection (`run` `:171-208`).

    Candidates are md5-derived (portable seeded sampling — Spark rand()
    and the reference's random.Random can never agree; the hash can).
    The momentum features (4 lookbacks + forward return) are computed ONCE
    in a single window pass; the 64-candidate dim is broadcast onto the
    feature stream, so the fact table is scanned once and the only
    shuffle is the per-candidate partial aggregation — candidate count
    scales the broadcast row count, never the shuffle count. Infinite
    profit factor (zero gross loss) hits the cap exactly like the
    reference; zero-trade and degenerate-volatility candidates drop out
    fail-closed. Top-k is ORDER BY rounded score LIMIT k
    (TakeOrderedAndProject)."""
    from ..functions.scalars import hash_unit_interval

    s = _series(spark, sf_dir)
    wp = _w()
    f = s.select(
        "user_id",
        "rn",
        "value",
        *[
            (F.col("value") / F.lag("value", k).over(wp) - 1).alias(f"mom{k}")
            for k in (1, 2, 3, 4)
        ],
        (F.lead("value", 1).over(wp) / F.col("value") - 1).alias("fwd"),
    ).filter(F.col("fwd").isNotNull())

    def hu(tag: str):
        return hash_unit_interval(F.lit("cand"), F.col("id"), F.lit(tag))

    cands = spark.range(_SO_N_CANDS).select(
        F.col("id").alias("cand_id"),
        (0.05 + hu("t") * 1.95).alias("threshold"),
        (1 + F.floor(hu("k") * 4)).cast("int").alias("lookback"),
        F.when(hu("s") < 0.5, "long").otherwise("both").alias("side"),
    )
    joined = f.crossJoin(F.broadcast(cands))
    mom = (
        F.when(F.col("lookback") == 1, F.col("mom1"))
        .when(F.col("lookback") == 2, F.col("mom2"))
        .when(F.col("lookback") == 3, F.col("mom3"))
        .otherwise(F.col("mom4"))
    )
    pnl = F.when(mom > F.col("threshold"), F.col("fwd")).when(
        (F.col("side") == "both") & (mom < -F.col("threshold")), -F.col("fwd")
    )
    trades = joined.select(
        "cand_id", "threshold", "lookback", "side", pnl.alias("pnl")
    ).filter(F.col("pnl").isNotNull())
    p = F.col("pnl")
    m = trades.groupBy("cand_id", "threshold", "lookback", "side").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum(p).alias("s1"),
        F.sum(p * p).alias("s2"),
        F.avg(F.when(p > 0, 1.0).otherwise(0.0)).alias("win_rate"),
        F.sum(F.when(p > 0, p).otherwise(0.0)).alias("gross_win"),
        F.sum(F.when(p < 0, -p).otherwise(0.0)).alias("gross_loss"),
    )
    n = F.col("n_trades")
    sc = (
        m.filter(n >= _SO_MIN_TRADES)
        .withColumn("mean_ret", F.col("s1") / n)
        .withColumn(
            "vol",
            F.sqrt(
                F.greatest(
                    (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1),
                    F.lit(0.0),
                )
            ),
        )
    )
    scored = sc.filter(
        (F.col("vol") > 0)
        & (F.col("win_rate") >= _SO_MIN_WINRATE)
        & (F.col("vol") <= _SO_MAX_VOL)
    ).select(
        "cand_id",
        "threshold",
        "lookback",
        "side",
        "n_trades",
        "win_rate",
        (F.col("mean_ret") / F.col("vol")).alias("sharpe"),
        F.when(F.col("gross_loss") == 0, _SO_SCORE_CAP)
        .otherwise(F.least(F.col("gross_win") / F.col("gross_loss"), F.lit(_SO_SCORE_CAP)))
        .alias("profit_factor"),
    )

    def cap(c):
        return F.greatest(F.lit(-_SO_SCORE_CAP), F.least(F.lit(_SO_SCORE_CAP), c))

    return (
        scored.select(
            F.col("cand_id").cast("long").alias("cand_id"),
            r6(F.col("threshold")).alias("threshold"),
            "lookback",
            "side",
            F.col("n_trades").cast("long").alias("n_trades"),
            r6(F.col("win_rate")).alias("win_rate"),
            r6(F.col("sharpe")).alias("sharpe"),
            r6(F.col("profit_factor")).alias("profit_factor"),
            r6(
                _SO_W_SHARPE * cap(F.col("sharpe"))
                + _SO_W_WINRATE * cap(F.col("win_rate"))
                + _SO_W_PF * cap(F.col("profit_factor"))
            ).alias("score"),
        )
        .orderBy(F.desc("score"), "cand_id")
        .limit(_SO_TOPK)
    )


# ---------------------------------------------------------------------------
# Signal quality validation — the 5-layer LLM-signal QA gate
# ---------------------------------------------------------------------------

# Reference thresholds (`ai_llm/signal_quality_validator.py:54-63`), with
# the return/vol magnitudes rescaled to this corpus (the reference's 2%/15%
# are daily-equity scales; the events series runs ~100x hotter). The
# reasoning-length gate uses a deterministic synthetic length (no prose in
# the engine) so the branch is exercised identically on both engines.
_SQ_MIN_CONF = 0.6
_SQ_MIN_ER = 0.05
_SQ_MAX_RISK = 4.0
_SQ_RATIO_MIN = 0.5
_SQ_VOL20_WARN = 2.0
_SQ_VOL10_OVERCONF = 2.0
_SQ_CONF_OVERCONF = 0.9
_SQ_CONF_LOWDATA = 0.8
_SQ_MIN_N = 10
_SQ_REASON_MIN = 60


@query(
    "signal_quality_validation",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    pre AS (
      SELECT user_id, rn, value, lr,
             ABS(value - LAG(value) OVER wp) AS adiff,
             value - LAG(value) OVER wp AS d,
             value / LAG(value) OVER wp - 1 AS pret
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    feat AS (
      SELECT user_id, rn, value,
             AVG(value) OVER w5 AS ma5,
             STDDEV_SAMP(lr) OVER w20 AS vol20,
             AVG(adiff) OVER w14 AS atr14,
             CASE WHEN COUNT(d) OVER w14 = 14
                  THEN AVG(GREATEST(d, 0)) OVER w14 END AS gain14,
             CASE WHEN COUNT(d) OVER w14 = 14
                  THEN AVG(GREATEST(-d, 0)) OVER w14 END AS loss14,
             CASE WHEN COUNT(value) OVER w20 = 20
                  THEN AVG(value) OVER w20 END AS ma20,
             CASE WHEN COUNT(value) OVER w50 = 50
                  THEN AVG(value) OVER w50 END AS ma50,
             CASE WHEN COUNT(pret) OVER w20 = 20
                  THEN STDDEV_SAMP(pret) OVER w20 END AS vol20p,
             CASE WHEN COUNT(pret) OVER w10 = 10
                  THEN STDDEV_SAMP(pret) OVER w10 END AS vol10p,
             MAX(rn) OVER (PARTITION BY user_id) AS max_rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_obs
      FROM pre
      WINDOW w5 AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w10 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
             w14 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
             w50 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
    ),
    sig AS (
      SELECT user_id, value AS price, n_obs,
             (ma5 - value) / value - 0.002 AS er,
             vol20, ma20, ma50, vol20p, vol10p,
             CASE WHEN loss14 = 0 AND gain14 = 0 THEN NULL
                  WHEN loss14 = 0 THEN 100.0
                  ELSE 100 - 100 / (1 + gain14 / loss14) END AS rsi,
             CASE WHEN (ma5 - value) / value - 0.002 > 0.01
                    AND ((ma5 - value) / value - 0.002) / vol20 > 0.5
                  THEN 'BUY'
                  WHEN (ma5 - value) / value - 0.002 < -0.01
                    AND -((ma5 - value) / value - 0.002) / vol20 > 0.5
                  THEN 'SELL' ELSE 'HOLD' END AS action,
             LEAST(ABS((ma5 - value) / value - 0.002) / vol20, 1.0)
               AS confidence,
             40 + (user_id % 40) AS rlen
      FROM feat WHERE rn = max_rn AND rn >= 21
    ),
    lay AS (
      SELECT *,
             CASE WHEN confidence >= 0 AND confidence <= 1
                   AND confidence >= {_SQ_MIN_CONF}
                   AND rlen >= {_SQ_REASON_MIN}
                   AND price > 0 THEN 1 ELSE 0 END AS l1,
             1 AS l2,
             CASE WHEN ABS(er) < {_SQ_MIN_ER} THEN 0
                  WHEN vol20 IS NOT NULL AND vol20 > {_SQ_MAX_RISK} THEN 0
                  WHEN vol20 IS NOT NULL
                   AND ABS(er) / vol20 < {_SQ_RATIO_MIN} THEN 0
                  ELSE 1 END AS l3,
             1 AS l4,
             CASE WHEN n_obs < {_SQ_MIN_N}
                   AND confidence > {_SQ_CONF_LOWDATA} THEN 0
                  WHEN vol10p IS NOT NULL AND vol10p > {_SQ_VOL10_OVERCONF}
                   AND confidence > {_SQ_CONF_OVERCONF} THEN 0
                  ELSE 1 END AS l5,
             (CASE WHEN vol20p > {_SQ_VOL20_WARN} THEN 1 ELSE 0 END
              + CASE WHEN action = 'BUY' AND rsi > 70 THEN 1 ELSE 0 END
              + CASE WHEN action = 'SELL' AND rsi < 30 THEN 1 ELSE 0 END
              + CASE WHEN action = 'BUY' AND price < ma20 THEN 1 ELSE 0 END
              + CASE WHEN action = 'BUY' AND ma20 < ma50 THEN 1 ELSE 0 END
              + CASE WHEN action = 'SELL' AND price > ma20 THEN 1 ELSE 0 END
              + CASE WHEN action = 'SELL' AND ma20 > ma50 THEN 1 ELSE 0 END)
               AS n_warnings
      FROM sig WHERE action IN ('BUY', 'SELL')
    )
    SELECT user_id, action,
           ROUND(confidence, 6) AS confidence,
           CAST(l1 AS INT) AS basic_ok, CAST(l2 AS INT) AS context_ok,
           CAST(l3 AS INT) AS risk_ok, CAST(l4 AS INT) AS technical_ok,
           CAST(l5 AS INT) AS calibration_ok,
           CAST(n_warnings AS INT) AS n_warnings,
           ROUND((l1 + l2 + l3 + l4 + l5) / 5.0, 6) AS overall_score,
           CAST(l1 * l2 * l3 * l4 * l5 AS INT) AS is_valid,
           CASE WHEN l1 * l2 * l3 * l4 * l5 = 1
                 AND (l1 + l2 + l3 + l4 + l5) / 5.0 >= 0.8
                THEN 'STRONG_' || action
                WHEN l1 * l2 * l3 * l4 * l5 = 1
                 AND (l1 + l2 + l3 + l4 + l5) / 5.0 >= 0.6
                THEN action
                WHEN (l1 + l2 + l3 + l4 + l5) / 5.0 >= 0.4
                THEN 'WEAK_' || action
                ELSE 'HOLD' END AS recommendation
    FROM lay
    """,
)
def signal_quality_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 5-layer LLM-signal quality gate — reference
    `ai_llm/signal_quality_validator.py:46-275` (`validate_signal`):
    basic structure (confidence range/floor, reasoning length, price
    positivity, `:125-150`), market context (always-advisory volatility
    warning, `:151-179`), risk/return (edge floor, risk cap, 0.5
    risk-adjusted ratio, fail-closed, `:180-204`), technical advisory
    (RSI-14 overbought/oversold + MA20/MA50 trend alignment — warnings
    only, `:205-247`), and confidence calibration (overconfidence under
    thin data or high volatility, `:248-266`). Overall score = mean of
    the layer indicators; the recommendation ladder (STRONG_x / x /
    WEAK_x / HOLD) follows `:106-117` verbatim.

    Signals come from the engine's own F14 gate (same feature
    expressions as `signal_generation`); RSI mirrors the reference's
    simple rolling-mean form including its pandas min-periods semantics
    (indicators null until their window fills — the COUNT(...) = w
    gates). One window pass, one latest-row filter, pure when-chains:
    the whole validator is a projection."""
    s = _series(spark, sf_dir)
    wp = _w()
    d = F.col("value") - F.lag("value").over(wp)
    pre = s.select(
        "user_id",
        "rn",
        "value",
        "lr",
        F.abs(d).alias("adiff"),
        d.alias("d"),
        (F.col("value") / F.lag("value").over(wp) - 1).alias("pret"),
    )

    def gated(col, w, width):
        return F.when(F.count(col).over(_w((-(width - 1), 0))) == width, w)

    feat = pre.select(
        "user_id",
        "rn",
        "value",
        F.avg("value").over(_w((-4, 0))).alias("ma5"),
        F.stddev_samp("lr").over(_w((-19, 0))).alias("vol20"),
        F.avg("adiff").over(_w((-13, 0))).alias("atr14"),
        gated(F.col("d"), F.avg(F.greatest(F.col("d"), F.lit(0))).over(_w((-13, 0))), 14).alias("gain14"),
        gated(F.col("d"), F.avg(F.greatest(-F.col("d"), F.lit(0))).over(_w((-13, 0))), 14).alias("loss14"),
        gated(F.col("value"), F.avg("value").over(_w((-19, 0))), 20).alias("ma20"),
        gated(F.col("value"), F.avg("value").over(_w((-49, 0))), 50).alias("ma50"),
        gated(F.col("pret"), F.stddev_samp("pret").over(_w((-19, 0))), 20).alias("vol20p"),
        gated(F.col("pret"), F.stddev_samp("pret").over(_w((-9, 0))), 10).alias("vol10p"),
        F.max("rn").over(Window.partitionBy("user_id")).alias("max_rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_obs"),
    )
    er = (F.col("ma5") - F.col("value")) / F.col("value") - 0.002
    sig = feat.filter((F.col("rn") == F.col("max_rn")) & (F.col("rn") >= 21)).select(
        "user_id",
        F.col("value").alias("price"),
        "n_obs",
        er.alias("er"),
        "vol20",
        "ma20",
        "ma50",
        "vol20p",
        "vol10p",
        F.when((F.col("loss14") == 0) & (F.col("gain14") == 0), F.lit(None))
        .when(F.col("loss14") == 0, 100.0)
        .otherwise(100 - 100 / (1 + F.col("gain14") / F.col("loss14")))
        .alias("rsi"),
        F.when((er > 0.01) & (er / F.col("vol20") > 0.5), "BUY")
        .when((er < -0.01) & (-er / F.col("vol20") > 0.5), "SELL")
        .otherwise("HOLD")
        .alias("action"),
        F.least(F.abs(er) / F.col("vol20"), F.lit(1.0)).alias("confidence"),
        (40 + F.col("user_id") % 40).alias("rlen"),
    ).filter(F.col("action").isin("BUY", "SELL"))
    conf = F.col("confidence")
    l1 = (
        F.when(
            (conf >= 0)
            & (conf <= 1)
            & (conf >= _SQ_MIN_CONF)
            & (F.col("rlen") >= _SQ_REASON_MIN)
            & (F.col("price") > 0),
            1,
        ).otherwise(0)
    )
    l3 = (
        F.when(F.abs(F.col("er")) < _SQ_MIN_ER, 0)
        .when(F.col("vol20").isNotNull() & (F.col("vol20") > _SQ_MAX_RISK), 0)
        .when(
            F.col("vol20").isNotNull()
            & (F.abs(F.col("er")) / F.col("vol20") < _SQ_RATIO_MIN),
            0,
        )
        .otherwise(1)
    )
    l5 = (
        F.when((F.col("n_obs") < _SQ_MIN_N) & (conf > _SQ_CONF_LOWDATA), 0)
        .when(
            F.col("vol10p").isNotNull()
            & (F.col("vol10p") > _SQ_VOL10_OVERCONF)
            & (conf > _SQ_CONF_OVERCONF),
            0,
        )
        .otherwise(1)
    )

    def warn(cond):
        return F.when(cond, 1).otherwise(0)

    buy = F.col("action") == "BUY"
    sell = F.col("action") == "SELL"
    n_warn = (
        warn(F.col("vol20p") > _SQ_VOL20_WARN)
        + warn(buy & (F.col("rsi") > 70))
        + warn(sell & (F.col("rsi") < 30))
        + warn(buy & (F.col("price") < F.col("ma20")))
        + warn(buy & (F.col("ma20") < F.col("ma50")))
        + warn(sell & (F.col("price") > F.col("ma20")))
        + warn(sell & (F.col("ma20") > F.col("ma50")))
    )
    lay = sig.select(
        "user_id",
        "action",
        conf.alias("confidence"),
        l1.alias("l1"),
        F.lit(1).alias("l2"),
        l3.alias("l3"),
        F.lit(1).alias("l4"),
        l5.alias("l5"),
        n_warn.alias("n_warnings"),
    )
    tot = (
        F.col("l1") + F.col("l2") + F.col("l3") + F.col("l4") + F.col("l5")
    ) / 5.0
    allv = F.col("l1") * F.col("l2") * F.col("l3") * F.col("l4") * F.col("l5")
    return lay.select(
        "user_id",
        "action",
        r6(F.col("confidence")).alias("confidence"),
        F.col("l1").cast("int").alias("basic_ok"),
        F.col("l2").cast("int").alias("context_ok"),
        F.col("l3").cast("int").alias("risk_ok"),
        F.col("l4").cast("int").alias("technical_ok"),
        F.col("l5").cast("int").alias("calibration_ok"),
        F.col("n_warnings").cast("int").alias("n_warnings"),
        r6(tot).alias("overall_score"),
        allv.cast("int").alias("is_valid"),
        F.when((allv == 1) & (tot >= 0.8), F.concat(F.lit("STRONG_"), F.col("action")))
        .when((allv == 1) & (tot >= 0.6), F.col("action"))
        .when(tot >= 0.4, F.concat(F.lit("WEAK_"), F.col("action")))
        .otherwise("HOLD")
        .alias("recommendation"),
    )


# ---------------------------------------------------------------------------
# Confidence-threshold calibration (quantile bins vs outcomes)
# ---------------------------------------------------------------------------

_CC_NBINS = 5


@query(
    "confidence_threshold_calibration",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    feat AS (
      SELECT user_id, rn, value,
             AVG(value) OVER w5 AS ma5,
             STDDEV_SAMP(lr) OVER w20 AS vol20,
             LEAD(value) OVER wp AS nxt,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM s
      WINDOW wp AS (PARTITION BY user_id ORDER BY rn),
             w5 AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w20 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    sig AS (
      SELECT user_id,
             ROUND(LEAST(ABS((ma5 - value) / value - 0.002) / vol20, 1.0), 6)
               AS conf,
             CASE WHEN (ma5 - value) / value - 0.002 > 0.01
                   AND ((ma5 - value) / value - 0.002) / vol20 > 0.5 THEN 1
                  WHEN (ma5 - value) / value - 0.002 < -0.01
                   AND -((ma5 - value) / value - 0.002) / vol20 > 0.5 THEN -1
                  ELSE 0 END AS dir,
             nxt / value - 1 AS actual
      FROM feat WHERE rn = n - 1 AND rn >= 21
    ),
    tr AS (
      SELECT user_id, conf,
             CASE WHEN dir * actual > 0 THEN 1 ELSE 0 END AS win,
             dir * actual AS pnl
      FROM sig WHERE dir <> 0
    ),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tr),
    ranked AS (
      SELECT conf, ROW_NUMBER() OVER (ORDER BY conf, user_id) AS rk FROM tr
    ),
    qs AS (SELECT UNNEST([0.0, 0.2, 0.4, 0.6, 0.8, 1.0]) AS q),
    edges0 AS (
      SELECT DISTINCT
             lo.conf + ((c.n - 1) * qs.q - FLOOR((c.n - 1) * qs.q))
               * (hi.conf - lo.conf) AS edge
      FROM qs CROSS JOIN cnt c
      JOIN ranked lo ON lo.rk = CAST(FLOOR((c.n - 1) * qs.q) AS BIGINT) + 1
      JOIN ranked hi ON hi.rk = CAST(CEIL((c.n - 1) * qs.q) AS BIGINT) + 1
    ),
    edges AS (
      SELECT edge AS lo,
             LEAD(edge) OVER (ORDER BY edge) AS hi,
             ROW_NUMBER() OVER (ORDER BY edge) AS b,
             COUNT(*) OVER () AS nb
      FROM edges0
    ),
    pf AS (
      SELECT AVG(CASE WHEN win = 1 THEN pnl END) AS mean_win,
             AVG(CASE WHEN win = 0 THEN pnl END) AS mean_loss
      FROM tr
    ),
    binned AS (
      SELECT e.b, e.lo, e.hi, e.nb, t.win, t.pnl
      FROM tr t JOIN edges e
        ON e.hi IS NOT NULL
       AND t.conf >= e.lo
       AND (t.conf < e.hi OR (e.b = e.nb - 1 AND t.conf <= e.hi))
    )
    SELECT CAST(b.b AS INT) AS bin,
           ROUND(b.lo, 4) AS conf_low,
           ROUND(b.hi, 4) AS conf_high,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           ROUND(AVG(CASE WHEN b.win = 1 THEN 1.0 ELSE 0.0 END), 4)
             AS win_rate,
           ROUND(AVG(b.pnl), 4) AS mean_pnl,
           ROUND(SUM(b.pnl), 4) AS total_pnl,
           ROUND(CASE WHEN p.mean_loss < 0
                      THEN 1.0 / (1.0 + p.mean_win / ABS(p.mean_loss))
                 END, 4) AS breakeven_win_rate
    FROM binned b CROSS JOIN pf p
    GROUP BY b.b, b.lo, b.hi, p.mean_win, p.mean_loss
    """,
)
def confidence_threshold_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence-threshold calibration — reference
    `scripts/calibrate_confidence_thresholds.py:85-180`: directional
    signals binned by QUANTILE edges of their confidence (numpy.quantile
    linear interpolation, duplicate edges collapsed, last bin inclusive
    `:96-101`), per-bin trade count / win rate / mean and total PnL, and
    the breakeven win rate 1/(1 + profit factor) derived from mean win
    and loss (`:147-156`) — the number each bin's win rate is compared
    against to pick the minimum executable confidence. Mechanical exits
    are excluded (`:124-128`); in the signal model that is the HOLD
    class. PnL is the direction-signed forward return.

    Plan: signals one row per key; the quantile edges come from two
    order-statistic equi-joins against a ranked frame (bounded: one row
    per signal); binning is a range join against the <=5-row edge dim;
    the rollup is a grouped aggregate."""
    from pyspark.sql import Window as W

    s = _series(spark, sf_dir)
    wp = W.partitionBy("user_id").orderBy("rn")
    feat = s.select(
        "user_id",
        "rn",
        "value",
        F.avg("value").over(wp.rowsBetween(-4, 0)).alias("ma5"),
        F.stddev_samp("lr").over(wp.rowsBetween(-19, 0)).alias("vol20"),
        F.lead("value").over(wp).alias("nxt"),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n"),
    )
    er = (F.col("ma5") - F.col("value")) / F.col("value") - 0.002
    sig = feat.filter((F.col("rn") == F.col("n") - 1) & (F.col("rn") >= 21)).select(
        "user_id",
        r6(F.least(F.abs(er) / F.col("vol20"), F.lit(1.0))).alias("conf"),
        F.when((er > 0.01) & (er / F.col("vol20") > 0.5), 1)
        .when((er < -0.01) & (-er / F.col("vol20") > 0.5), -1)
        .otherwise(0)
        .alias("dir"),
        (F.col("nxt") / F.col("value") - 1).alias("actual"),
    )
    tr = sig.filter(F.col("dir") != 0).select(
        "user_id",
        "conf",
        F.when(F.col("dir") * F.col("actual") > 0, 1).otherwise(0).alias("win"),
        (F.col("dir") * F.col("actual")).alias("pnl"),
    )
    from ..operators.windows import scalable_row_number

    cnt = tr.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # global order statistics WITHOUT a single-partition window: the
    # two-pass range-partitioned rank (signals scale with the key universe)
    ranked = scalable_row_number(
        tr.select("conf", "user_id"), ["conf", "user_id"], out_col="rk"
    ).select("conf", "rk")
    qs = literal_grid(
        s.sparkSession,
        [(q,) for q in (0.0, 0.2, 0.4, 0.6, 0.8, 1.0)],
        "q double",
    )
    pos = (F.col("n") - 1) * F.col("q")
    edges0 = (
        qs.crossJoin(F.broadcast(cnt))
        .withColumn("pos", pos)
        .withColumn("k_lo", F.floor(F.col("pos")).cast("long"))
        .withColumn("k_hi", F.ceil(F.col("pos")).cast("long"))
        .join(
            ranked.select(F.col("rk").alias("rk1"), F.col("conf").alias("c_lo")),
            F.col("rk1") == F.col("k_lo") + 1,
        )
        .join(
            ranked.select(F.col("rk").alias("rk2"), F.col("conf").alias("c_hi")),
            F.col("rk2") == F.col("k_hi") + 1,
        )
        .select(
            (
                F.col("c_lo")
                + (F.col("pos") - F.floor(F.col("pos")))
                * (F.col("c_hi") - F.col("c_lo"))
            ).alias("edge")
        )
        .distinct()
    )
    we = W.orderBy("edge")
    edges = edges0.select(
        F.col("edge").alias("lo"),
        F.lead("edge").over(we).alias("hi"),
        F.row_number().over(we).alias("b"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nb"),
    ).filter(F.col("hi").isNotNull())
    pf = tr.agg(
        F.avg(F.when(F.col("win") == 1, F.col("pnl"))).alias("mean_win"),
        F.avg(F.when(F.col("win") == 0, F.col("pnl"))).alias("mean_loss"),
    )
    binned = tr.join(
        F.broadcast(edges),
        (F.col("conf") >= F.col("lo"))
        & (
            (F.col("conf") < F.col("hi"))
            | ((F.col("b") == F.col("nb") - 1) & (F.col("conf") <= F.col("hi")))
        ),
    )
    return (
        binned.crossJoin(F.broadcast(pf))
        .groupBy("b", "lo", "hi", "mean_win", "mean_loss")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.round(F.avg(F.when(F.col("win") == 1, 1.0).otherwise(0.0)), 4).alias(
                "win_rate"
            ),
            F.round(F.avg("pnl"), 4).alias("mean_pnl"),
            F.round(F.sum("pnl"), 4).alias("total_pnl"),
        )
        .select(
            F.col("b").cast("int").alias("bin"),
            F.round("lo", 4).alias("conf_low"),
            F.round("hi", 4).alias("conf_high"),
            "n_trades",
            "win_rate",
            "mean_pnl",
            "total_pnl",
            F.round(
                F.when(
                    F.col("mean_loss") < 0,
                    1.0 / (1.0 + F.col("mean_win") / F.abs(F.col("mean_loss"))),
                ),
                4,
            ).alias("breakeven_win_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Simplex-constrained ensemble weight optimization (closed-form QP)
# ---------------------------------------------------------------------------

# Reference `forcester_ts/ensemble_diagnostics.py:217-283`
# (`optimize_weights`): scipy SLSQP minimizing ensemble RMSE over the
# probability simplex. For the 3-model stack the strictly convex QP solves
# EXACTLY by active-set enumeration: the optimum's support S is one of the
# 7 non-empty model subsets, and on each S the equality-constrained
# least-squares (sum w = 1) is closed-form — a cofactor 3x3 inverse plus a
# Lagrange step for the full set, a scalar ratio for pairs, trivial for
# singletons. The global optimum is the feasible (all-nonnegative)
# candidate with minimal RMSE, so no iterative solver survives into the
# engine at all.


@query(
    "ensemble_weight_optimization",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value AS a,
             LAG(value, 1) OVER wp AS p1,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
               AS p2,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
               AS p3
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
      QUALIFY rn >= 11
    ),
    k AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(p1*p1) AS g11, SUM(p1*p2) AS g12, SUM(p1*p3) AS g13,
             SUM(p2*p2) AS g22, SUM(p2*p3) AS g23, SUM(p3*p3) AS g33,
             SUM(p1*a) AS b1, SUM(p2*a) AS b2, SUM(p3*a) AS b3,
             SUM(a*a) AS aa
      FROM f GROUP BY user_id HAVING COUNT(*) > 10
    ),
    inv AS (
      SELECT *,
             g11*(g22*g33 - g23*g23) - g12*(g12*g33 - g23*g13)
               + g13*(g12*g23 - g22*g13) AS det
      FROM k
    ),
    uvw AS (
      SELECT *,
             ((g22*g33 - g23*g23)*b1 + (g13*g23 - g12*g33)*b2
               + (g12*g23 - g13*g22)*b3) / NULLIF(det, 0) AS u1,
             ((g13*g23 - g12*g33)*b1 + (g11*g33 - g13*g13)*b2
               + (g12*g13 - g11*g23)*b3) / NULLIF(det, 0) AS u2,
             ((g12*g23 - g13*g22)*b1 + (g12*g13 - g11*g23)*b2
               + (g11*g22 - g12*g12)*b3) / NULLIF(det, 0) AS u3,
             ((g22*g33 - g23*g23) + (g13*g23 - g12*g33)
               + (g12*g23 - g13*g22)) / NULLIF(det, 0) AS v1,
             ((g13*g23 - g12*g33) + (g11*g33 - g13*g13)
               + (g12*g13 - g11*g23)) / NULLIF(det, 0) AS v2,
             ((g12*g23 - g13*g22) + (g12*g13 - g11*g23)
               + (g11*g22 - g12*g12)) / NULLIF(det, 0) AS v3
      FROM inv
    ),
    cand AS (
      SELECT *,
             u1 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v1 AS wf1,
             u2 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v2 AS wf2,
             u3 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v3 AS wf3,
             ((b1 - b2) + (g22 - g12)) / NULLIF(g11 - 2.0*g12 + g22, 0)
               AS w12,
             ((b1 - b3) + (g33 - g13)) / NULLIF(g11 - 2.0*g13 + g33, 0)
               AS w13,
             ((b2 - b3) + (g33 - g23)) / NULLIF(g22 - 2.0*g23 + g33, 0)
               AS w23
      FROM uvw
    ),
    r2 AS (
      SELECT *,
             CASE WHEN wf1 >= 0 AND wf2 >= 0 AND wf3 >= 0 THEN
               (aa - 2.0*(wf1*b1 + wf2*b2 + wf3*b3)
                + (wf1*wf1*g11 + wf2*wf2*g22 + wf3*wf3*g33
                   + 2.0*(wf1*wf2*g12 + wf1*wf3*g13 + wf2*wf3*g23))) / n
             END AS r2_full,
             CASE WHEN w12 >= 0 AND w12 <= 1 THEN
               (aa - 2.0*(w12*b1 + (1.0-w12)*b2)
                + (w12*w12*g11 + (1.0-w12)*(1.0-w12)*g22
                   + 2.0*(w12*(1.0-w12)*g12))) / n
             END AS r2_12,
             CASE WHEN w13 >= 0 AND w13 <= 1 THEN
               (aa - 2.0*(w13*b1 + (1.0-w13)*b3)
                + (w13*w13*g11 + (1.0-w13)*(1.0-w13)*g33
                   + 2.0*(w13*(1.0-w13)*g13))) / n
             END AS r2_13,
             CASE WHEN w23 >= 0 AND w23 <= 1 THEN
               (aa - 2.0*(w23*b2 + (1.0-w23)*b3)
                + (w23*w23*g22 + (1.0-w23)*(1.0-w23)*g33
                   + 2.0*(w23*(1.0-w23)*g23))) / n
             END AS r2_23,
             (aa - 2.0*b1 + g11) / n AS r2_1,
             (aa - 2.0*b2 + g22) / n AS r2_2,
             (aa - 2.0*b3 + g33) / n AS r2_3,
             (aa - 2.0*((b1+b2+b3)/3.0)
              + (g11+g22+g33 + 2.0*(g12+g13+g23))/9.0) / n AS r2_ew
      FROM cand
    ),
    pick AS (
      SELECT *,
             LEAST(COALESCE(r2_full, 1e308), COALESCE(r2_12, 1e308),
                   COALESCE(r2_13, 1e308), COALESCE(r2_23, 1e308),
                   r2_1, r2_2, r2_3) AS r2_min
      FROM r2
    )
    SELECT user_id, n,
           CASE WHEN r2_full IS NOT NULL AND r2_full = r2_min
                THEN 'naive+ma3+ma10'
                WHEN r2_12 IS NOT NULL AND r2_12 = r2_min THEN 'naive+ma3'
                WHEN r2_13 IS NOT NULL AND r2_13 = r2_min THEN 'naive+ma10'
                WHEN r2_23 IS NOT NULL AND r2_23 = r2_min THEN 'ma3+ma10'
                WHEN r2_1 = r2_min THEN 'naive'
                WHEN r2_2 = r2_min THEN 'ma3'
                ELSE 'ma10' END AS active_set,
           ROUND(CASE WHEN r2_full IS NOT NULL AND r2_full = r2_min THEN wf1
                      WHEN r2_12 IS NOT NULL AND r2_12 = r2_min THEN w12
                      WHEN r2_13 IS NOT NULL AND r2_13 = r2_min THEN w13
                      WHEN r2_23 IS NOT NULL AND r2_23 = r2_min THEN 0.0
                      WHEN r2_1 = r2_min THEN 1.0
                      ELSE 0.0 END, 6) AS w_naive,
           ROUND(CASE WHEN r2_full IS NOT NULL AND r2_full = r2_min THEN wf2
                      WHEN r2_12 IS NOT NULL AND r2_12 = r2_min
                      THEN 1.0 - w12
                      WHEN r2_13 IS NOT NULL AND r2_13 = r2_min THEN 0.0
                      WHEN r2_23 IS NOT NULL AND r2_23 = r2_min THEN w23
                      WHEN r2_2 = r2_min THEN 1.0
                      ELSE 0.0 END, 6) AS w_ma3,
           ROUND(CASE WHEN r2_full IS NOT NULL AND r2_full = r2_min THEN wf3
                      WHEN r2_12 IS NOT NULL AND r2_12 = r2_min THEN 0.0
                      WHEN r2_13 IS NOT NULL AND r2_13 = r2_min
                      THEN 1.0 - w13
                      WHEN r2_23 IS NOT NULL AND r2_23 = r2_min
                      THEN 1.0 - w23
                      WHEN r2_1 = r2_min OR r2_2 = r2_min THEN 0.0
                      ELSE 1.0 END, 6) AS w_ma10,
           ROUND(SQRT(r2_min), 6) AS optimal_rmse,
           ROUND(SQRT(r2_ew), 6) AS current_rmse,
           ROUND((SQRT(r2_ew) - SQRT(r2_min)) / SQRT(r2_ew) * 100.0, 6)
             AS improvement_pct
    FROM pick
    """,
)
def ensemble_weight_optimization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's scipy-SLSQP ensemble weight optimization —
    `forcester_ts/ensemble_diagnostics.py:217-283` (`optimize_weights`,
    RMSE objective, weights on the probability simplex) — solved EXACTLY
    instead of iteratively: for the 3-model stack the strictly convex QP's
    optimum has one of 7 supports; each support's equality-constrained
    least squares is closed-form (cofactor 3x3 inverse + Lagrange step for
    the full set, a scalar ratio for pairs); the global optimum is the
    minimal-RMSE candidate among the feasible (componentwise >= 0) ones.
    `current_rmse` is the uniform-initial-guess ensemble the reference
    reports improvement against (`:271-272`). The equal-weight point is
    always feasible, so optimal_rmse <= current_rmse holds by
    construction; the KKT conditions are verified against an independent
    projected-gradient check in tests.

    Everything derives from ONE aggregation pass per user: the Gram
    matrix entries (g11..g33), the cross-moments b1..b3 and aa — the
    optimizer itself is scalar column algebra on a key-cardinality frame,
    exactly what a 1000-executor cluster wants (the per-key fit never
    sees row data twice)."""
    s = _series(spark, sf_dir)
    wp = _w()
    f = s.select(
        "user_id",
        "rn",
        F.col("value").alias("a"),
        F.lag("value", 1).over(wp).alias("p1"),
        F.avg("value").over(_w((-3, -1))).alias("p2"),
        F.avg("value").over(_w((-10, -1))).alias("p3"),
    ).filter(F.col("rn") >= 11)
    k = (
        f.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("p1") * F.col("p1")).alias("g11"),
            F.sum(F.col("p1") * F.col("p2")).alias("g12"),
            F.sum(F.col("p1") * F.col("p3")).alias("g13"),
            F.sum(F.col("p2") * F.col("p2")).alias("g22"),
            F.sum(F.col("p2") * F.col("p3")).alias("g23"),
            F.sum(F.col("p3") * F.col("p3")).alias("g33"),
            F.sum(F.col("p1") * F.col("a")).alias("b1"),
            F.sum(F.col("p2") * F.col("a")).alias("b2"),
            F.sum(F.col("p3") * F.col("a")).alias("b3"),
            F.sum(F.col("a") * F.col("a")).alias("aa"),
        )
        .filter(F.col("n") > 10)
    )
    g11, g12, g13 = F.col("g11"), F.col("g12"), F.col("g13")
    g22, g23, g33 = F.col("g22"), F.col("g23"), F.col("g33")
    b1, b2, b3, aa = F.col("b1"), F.col("b2"), F.col("b3"), F.col("aa")
    inv = k.withColumn(
        "det",
        g11 * (g22 * g33 - g23 * g23)
        - g12 * (g12 * g33 - g23 * g13)
        + g13 * (g12 * g23 - g22 * g13),
    )
    det = F.nullif(F.col("det"), F.lit(0.0))
    # cofactor rows of G^-1 (shared sub-expressions spelled out once)
    c11, c12, c13 = (
        g22 * g33 - g23 * g23,
        g13 * g23 - g12 * g33,
        g12 * g23 - g13 * g22,
    )
    c22, c23, c33 = (
        g11 * g33 - g13 * g13,
        g12 * g13 - g11 * g23,
        g11 * g22 - g12 * g12,
    )
    uvw = inv.select(
        "*",
        ((c11 * b1 + c12 * b2 + c13 * b3) / det).alias("u1"),
        ((c12 * b1 + c22 * b2 + c23 * b3) / det).alias("u2"),
        ((c13 * b1 + c23 * b2 + c33 * b3) / det).alias("u3"),
        ((c11 + c12 + c13) / det).alias("v1"),
        ((c12 + c22 + c23) / det).alias("v2"),
        ((c13 + c23 + c33) / det).alias("v3"),
    )
    u1, u2, u3 = F.col("u1"), F.col("u2"), F.col("u3")
    v1, v2, v3 = F.col("v1"), F.col("v2"), F.col("v3")
    lam = (1.0 - (u1 + u2 + u3)) / F.nullif(v1 + v2 + v3, F.lit(0.0))
    cand = uvw.select(
        "*",
        (u1 + lam * v1).alias("wf1"),
        (u2 + lam * v2).alias("wf2"),
        (u3 + lam * v3).alias("wf3"),
        (((b1 - b2) + (g22 - g12)) / F.nullif(g11 - 2.0 * g12 + g22, F.lit(0.0))).alias("w12"),
        (((b1 - b3) + (g33 - g13)) / F.nullif(g11 - 2.0 * g13 + g33, F.lit(0.0))).alias("w13"),
        (((b2 - b3) + (g33 - g23)) / F.nullif(g22 - 2.0 * g23 + g33, F.lit(0.0))).alias("w23"),
    )
    n = F.col("n")
    wf1, wf2, wf3 = F.col("wf1"), F.col("wf2"), F.col("wf3")
    w12, w13, w23 = F.col("w12"), F.col("w13"), F.col("w23")

    def pair_r2(w, bi, bj, gii, gjj, gij):
        return (
            aa
            - 2.0 * (w * bi + (1.0 - w) * bj)
            + (w * w * gii + (1.0 - w) * (1.0 - w) * gjj + 2.0 * (w * (1.0 - w) * gij))
        ) / n

    r2 = cand.select(
        "*",
        F.when(
            (wf1 >= 0) & (wf2 >= 0) & (wf3 >= 0),
            (
                aa
                - 2.0 * (wf1 * b1 + wf2 * b2 + wf3 * b3)
                + (
                    wf1 * wf1 * g11
                    + wf2 * wf2 * g22
                    + wf3 * wf3 * g33
                    + 2.0 * (wf1 * wf2 * g12 + wf1 * wf3 * g13 + wf2 * wf3 * g23)
                )
            )
            / n,
        ).alias("r2_full"),
        F.when((w12 >= 0) & (w12 <= 1), pair_r2(w12, b1, b2, g11, g22, g12)).alias("r2_12"),
        F.when((w13 >= 0) & (w13 <= 1), pair_r2(w13, b1, b3, g11, g33, g13)).alias("r2_13"),
        F.when((w23 >= 0) & (w23 <= 1), pair_r2(w23, b2, b3, g22, g33, g23)).alias("r2_23"),
        ((aa - 2.0 * b1 + g11) / n).alias("r2_1"),
        ((aa - 2.0 * b2 + g22) / n).alias("r2_2"),
        ((aa - 2.0 * b3 + g33) / n).alias("r2_3"),
        (
            (
                aa
                - 2.0 * ((b1 + b2 + b3) / 3.0)
                + (g11 + g22 + g33 + 2.0 * (g12 + g13 + g23)) / 9.0
            )
            / n
        ).alias("r2_ew"),
    )
    big = F.lit(1e308)
    pick = r2.withColumn(
        "r2_min",
        F.least(
            F.coalesce(F.col("r2_full"), big),
            F.coalesce(F.col("r2_12"), big),
            F.coalesce(F.col("r2_13"), big),
            F.coalesce(F.col("r2_23"), big),
            F.col("r2_1"),
            F.col("r2_2"),
            F.col("r2_3"),
        ),
    )
    rmin = F.col("r2_min")

    def is_(c):
        return F.col(c).isNotNull() & (F.col(c) == rmin)

    active = (
        F.when(is_("r2_full"), "naive+ma3+ma10")
        .when(is_("r2_12"), "naive+ma3")
        .when(is_("r2_13"), "naive+ma10")
        .when(is_("r2_23"), "ma3+ma10")
        .when(F.col("r2_1") == rmin, "naive")
        .when(F.col("r2_2") == rmin, "ma3")
        .otherwise("ma10")
    )
    wn = (
        F.when(is_("r2_full"), wf1)
        .when(is_("r2_12"), w12)
        .when(is_("r2_13"), w13)
        .when(is_("r2_23"), F.lit(0.0))
        .when(F.col("r2_1") == rmin, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    wm3 = (
        F.when(is_("r2_full"), wf2)
        .when(is_("r2_12"), 1.0 - w12)
        .when(is_("r2_13"), F.lit(0.0))
        .when(is_("r2_23"), w23)
        .when(F.col("r2_2") == rmin, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    wm10 = (
        F.when(is_("r2_full"), wf3)
        .when(is_("r2_12"), F.lit(0.0))
        .when(is_("r2_13"), 1.0 - w13)
        .when(is_("r2_23"), 1.0 - w23)
        .when((F.col("r2_1") == rmin) | (F.col("r2_2") == rmin), F.lit(0.0))
        .otherwise(F.lit(1.0))
    )
    return pick.select(
        "user_id",
        "n",
        active.alias("active_set"),
        r6(wn).alias("w_naive"),
        r6(wm3).alias("w_ma3"),
        r6(wm10).alias("w_ma10"),
        r6(F.sqrt(rmin)).alias("optimal_rmse"),
        r6(F.sqrt(F.col("r2_ew"))).alias("current_rmse"),
        r6(
            (F.sqrt(F.col("r2_ew")) - F.sqrt(rmin))
            / F.sqrt(F.col("r2_ew"))
            * 100.0
        ).alias("improvement_pct"),
    )


# ---------------------------------------------------------------------------
# Signal routing: Time-Series primary -> LLM-rule fallback
# ---------------------------------------------------------------------------

# Reference `models/signal_router.py:147-303` (`route_signal`) with the
# default feature flags (`:103-106`: TS primary on, LLM fallback on,
# redundancy off). The quality floor is the reference's 0.6 (`:218`).
# The config-driven TS-disabled ticker list (`:177-181`,
# config/forecaster_monitoring.yml) is pinned here as the deterministic
# user_id % 7 == 0 subset so the disabled path is exercised; the "LLM"
# fallback generator is the engine's rule-based fallback (the charter
# excludes live LLM endpoints): sign of the MA5-vs-MA20 momentum gap.
_ROUTE_QUALITY_MIN = 0.6


@query(
    "signal_routing_decision",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    feat AS (
      SELECT user_id, rn, value,
             AVG(value) OVER w5 AS ma5,
             AVG(value) OVER w20m AS ma20,
             STDDEV_SAMP(lr) OVER w20m AS vol20,
             MAX(rn) OVER (PARTITION BY user_id) AS max_rn
      FROM s
      WINDOW w5 AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w20m AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    q AS (
      SELECT user_id,
             COUNT(*) FILTER (WHERE value > 0)
               / CAST(COUNT(*) AS DOUBLE) AS quality_score
      FROM events GROUP BY user_id
    ),
    latest AS (
      SELECT f.user_id, f.value, f.ma5, f.ma20,
             ROUND(q.quality_score, 6) AS quality_score,
             CASE WHEN f.user_id % 7 = 0 THEN 0 ELSE 1 END AS ts_available,
             CASE WHEN (f.ma5 - f.value) / f.value - 0.002 > 0.01
                   AND ((f.ma5 - f.value) / f.value - 0.002)
                       / NULLIF(f.vol20, 0) > 0.5 THEN 'BUY'
                  WHEN (f.ma5 - f.value) / f.value - 0.002 < -0.01
                   AND (-((f.ma5 - f.value) / f.value - 0.002))
                       / NULLIF(f.vol20, 0) > 0.5 THEN 'SELL'
                  ELSE 'HOLD' END AS ts_action,
             CASE WHEN f.ma5 > f.ma20 THEN 'BUY'
                  WHEN f.ma5 < f.ma20 THEN 'SELL'
                  ELSE 'HOLD' END AS llm_action
      FROM feat f JOIN q ON q.user_id = f.user_id
      WHERE f.rn = f.max_rn AND f.rn >= 21
    ),
    route AS (
      SELECT user_id, quality_score, ts_available,
             CASE WHEN ts_available = 1 THEN ts_action END AS primary_ts,
             llm_action,
             CASE WHEN ts_available = 0 THEN 'ts_disabled'
                  WHEN ts_action = 'HOLD' THEN 'ts_hold'
                  WHEN quality_score < {_ROUTE_QUALITY_MIN}
                  THEN 'quality_too_low'
                  ELSE 'none' END AS fallback_trigger
      FROM latest
    )
    SELECT user_id, quality_score, ts_available,
           primary_ts AS ts_action,
           fallback_trigger,
           CASE WHEN fallback_trigger <> 'none' THEN 1 ELSE 0 END
             AS fallback_generated,
           CASE WHEN fallback_trigger <> 'none' THEN llm_action END
             AS fallback_action,
           CASE WHEN primary_ts IS NOT NULL THEN 'TIME_SERIES'
                ELSE 'LLM' END AS primary_source,
           COALESCE(primary_ts,
                    CASE WHEN fallback_trigger <> 'none' THEN llm_action END)
             AS primary_action,
           CASE WHEN primary_ts IS NULL AND fallback_trigger <> 'none'
                THEN 1 ELSE 0 END AS fallback_promoted
    FROM route
    """,
)
@shared_small_frame
def signal_routing_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TS-primary / LLM-fallback signal router — reference
    `models/signal_router.py:147-303` under the default feature flags:
    Time Series generates the primary signal unless the key is on the
    TS-disabled list; the fallback generator runs when there is no
    primary, the primary is HOLD, or the quality score is below 0.6
    (`:217-220`); a fallback is promoted to primary ONLY when Time Series
    produced nothing (`:280-286`) — a HOLD primary keeps primacy even
    with a fallback alongside, exactly the reference's subtle semantics.
    The TS arm is the engine's `signal_generation` gate; the "LLM" arm is
    the rule-based momentum fallback (live endpoints are out of charter);
    quality is the key's valid-row fraction. One window pass + one
    aggregate, key-cardinality joins."""
    from ..sources.catalog import load_table as _lt

    s = _series(spark, sf_dir)
    wp = _w()
    feat = s.select(
        "user_id",
        "rn",
        "value",
        F.avg("value").over(_w((-4, 0))).alias("ma5"),
        F.avg("value").over(_w((-19, 0))).alias("ma20"),
        F.stddev_samp("lr").over(_w((-19, 0))).alias("vol20"),
        F.max("rn").over(Window.partitionBy("user_id")).alias("max_rn"),
    )
    ev = _lt(spark, sf_dir, "events")
    q = ev.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("value") > 0, 1))
            / F.count(F.lit(1)).cast("double")
        ).alias("quality_score")
    )
    er = (F.col("ma5") - F.col("value")) / F.col("value") - 0.002
    cv = F.nullif(F.col("vol20"), F.lit(0.0))
    ts_action = (
        F.when((er > 0.01) & (er / cv > 0.5), "BUY")
        .when((er < -0.01) & ((-er) / cv > 0.5), "SELL")
        .otherwise("HOLD")
    )
    llm_action = (
        F.when(F.col("ma5") > F.col("ma20"), "BUY")
        .when(F.col("ma5") < F.col("ma20"), "SELL")
        .otherwise("HOLD")
    )
    latest = (
        feat.filter((F.col("rn") == F.col("max_rn")) & (F.col("rn") >= 21))
        .join(q, "user_id")
        .select(
            "user_id",
            r6(F.col("quality_score")).alias("quality_score"),
            F.when(F.col("user_id") % 7 == 0, 0).otherwise(1).alias("ts_available"),
            ts_action.alias("ts_action_raw"),
            llm_action.alias("llm_action"),
        )
    )
    primary_ts = F.when(F.col("ts_available") == 1, F.col("ts_action_raw"))
    trigger = (
        F.when(F.col("ts_available") == 0, "ts_disabled")
        .when(F.col("ts_action_raw") == "HOLD", "ts_hold")
        .when(F.col("quality_score") < _ROUTE_QUALITY_MIN, "quality_too_low")
        .otherwise("none")
    )
    route = latest.select(
        "user_id",
        "quality_score",
        "ts_available",
        primary_ts.alias("primary_ts"),
        "llm_action",
        trigger.alias("fallback_trigger"),
    )
    fb = F.col("fallback_trigger") != "none"
    return route.select(
        "user_id",
        "quality_score",
        "ts_available",
        F.col("primary_ts").alias("ts_action"),
        "fallback_trigger",
        fb.cast("int").alias("fallback_generated"),
        F.when(fb, F.col("llm_action")).alias("fallback_action"),
        F.when(F.col("primary_ts").isNotNull(), "TIME_SERIES")
        .otherwise("LLM")
        .alias("primary_source"),
        F.coalesce(
            F.col("primary_ts"), F.when(fb, F.col("llm_action"))
        ).alias("primary_action"),
        (F.col("primary_ts").isNull() & fb).cast("int").alias("fallback_promoted"),
    )


# ---------------------------------------------------------------------------
# F17 — deterministic market-analysis fallback (LLM-unavailable path)
# ---------------------------------------------------------------------------


@query(
    "market_analysis_fallback",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, value,
             DATE_TRUNC('hour', ts) AS hr,
             ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rk
      FROM events WHERE value > 0
    ),
    bars AS (
      SELECT user_id, hr,
             MAX(CASE WHEN rk = 1 THEN value END) AS close,
             COUNT(*) AS vol
      FROM e GROUP BY user_id, hr
    ),
    seq AS (
      SELECT user_id, hr, close, vol,
             ROW_NUMBER() OVER w AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY hr DESC)
               AS rn_desc,
             close / LAG(close) OVER w - 1.0 AS pc
      FROM bars WINDOW w AS (PARTITION BY user_id ORDER BY hr)
    ),
    st AS (
      SELECT user_id,
             COUNT(*) AS n_hours,
             ROUND(MAX_BY(close, rn), 2) AS current_price,
             ROUND((MAX_BY(close, rn) - MIN_BY(close, rn))
                   / MIN_BY(close, rn) * 100.0, 2) AS price_change_pct,
             ROUND(STDDEV_SAMP(pc) * 100.0, 2) AS volatility_pct,
             CAST(AVG(vol) AS BIGINT) AS avg_volume,
             ROUND((AVG(CASE WHEN rn_desc <= 5 THEN CAST(vol AS DOUBLE) END)
                    - AVG(CASE WHEN rn <= 5 THEN CAST(vol AS DOUBLE) END))
                   / AVG(CASE WHEN rn <= 5 THEN CAST(vol AS DOUBLE) END)
                   * 100.0, 2) AS volume_trend_pct,
             ROUND(MAX(close), 2) AS high_52w,
             ROUND(MIN(close), 2) AS low_52w
      FROM seq GROUP BY user_id HAVING COUNT(*) >= 10
    )
    SELECT user_id, n_hours, current_price, price_change_pct,
           volatility_pct, avg_volume, volume_trend_pct, high_52w, low_52w,
           CASE WHEN price_change_pct > 1.5 THEN 'bullish'
                WHEN price_change_pct < -1.5 THEN 'bearish'
                ELSE 'neutral' END AS trend,
           CAST(LEAST(10.0, GREATEST(1.0,
                FLOOR(ABS(price_change_pct)) + 4)) AS INTEGER) AS strength,
           CASE WHEN volatility_pct > 2.5 THEN 'volatile'
                WHEN ABS(volume_trend_pct) > 20 THEN 'trending'
                ELSE 'stable' END AS regime,
           1 AS fallback
    FROM st
    """,
)
def market_analysis_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM market analyzer's deterministic fallback — reference
    `ai_llm/market_analyzer.py:150-256` (`_fallback_analysis` over
    `_compute_statistics`): first-to-last price change, pct-change
    volatility, first-5-vs-last-5 volume trend (all rounded to 2dp
    BEFORE the ladder reads them, as the stats dict is), then
    bullish/bearish at the +/-1.5% gates, strength = clamp(floor(|pc|)
    + 4, 1, 10) (the reference's `// 1` floor-divide), and the
    volatile (> 2.5%) / trending (|volume trend| > 20%) / stable regime
    ladder. Bars are hourly closes with the event count as volume (the
    events table's natural volume proxy); the MIN_BY/MAX_BY(close, rn)
    endpoints are the reference's iloc[0]/iloc[-1]. Pure aggregation —
    the entire "analysis" costs one groupBy per key, which is exactly
    what the LLM path degrades to at scale when the endpoint is down."""
    from ..functions.scalars import epoch_seconds as _ep  # noqa: F401

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    e = ev.select(
        "user_id", "ts", "event_id", "value", F.date_trunc("hour", "ts").alias("hr")
    )
    whr = Window.partitionBy("user_id", "hr").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    bars = (
        e.withColumn("rk", F.row_number().over(whr))
        .groupBy("user_id", "hr")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("vol"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("hr")
    wd = Window.partitionBy("user_id").orderBy(F.col("hr").desc())
    seq = bars.select(
        "user_id",
        "hr",
        "close",
        "vol",
        F.row_number().over(w).alias("rn"),
        F.row_number().over(wd).alias("rn_desc"),
        (F.col("close") / F.lag("close").over(w) - 1.0).alias("pc"),
    )
    vold = F.col("vol").cast("double")
    st = (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.round(F.max_by("close", F.col("rn")), 2).alias("current_price"),
            F.round(
                (F.max_by("close", F.col("rn")) - F.min_by("close", F.col("rn")))
                / F.min_by("close", F.col("rn"))
                * 100.0,
                2,
            ).alias("price_change_pct"),
            F.round(F.stddev_samp("pc") * 100.0, 2).alias("volatility_pct"),
            F.avg("vol").cast("long").alias("avg_volume"),
            F.round(
                (
                    F.avg(F.when(F.col("rn_desc") <= 5, vold))
                    - F.avg(F.when(F.col("rn") <= 5, vold))
                )
                / F.avg(F.when(F.col("rn") <= 5, vold))
                * 100.0,
                2,
            ).alias("volume_trend_pct"),
            F.round(F.max("close"), 2).alias("high_52w"),
            F.round(F.min("close"), 2).alias("low_52w"),
        )
        .filter(F.col("n_hours") >= 10)
    )
    pc = F.col("price_change_pct")
    return st.select(
        "user_id",
        "n_hours",
        "current_price",
        "price_change_pct",
        "volatility_pct",
        "avg_volume",
        "volume_trend_pct",
        "high_52w",
        "low_52w",
        F.when(pc > 1.5, "bullish")
        .when(pc < -1.5, "bearish")
        .otherwise("neutral")
        .alias("trend"),
        F.least(
            F.lit(10.0), F.greatest(F.lit(1.0), F.floor(F.abs(pc)) + 4)
        )
        .cast("int")
        .alias("strength"),
        F.when(F.col("volatility_pct") > 2.5, "volatile")
        .when(F.abs(F.col("volume_trend_pct")) > 20, "trending")
        .otherwise("stable")
        .alias("regime"),
        F.lit(1).alias("fallback"),
    )


# ---------------------------------------------------------------------------
# LLM model-selection optimizer (EMA telemetry state + use-case argmax)
# ---------------------------------------------------------------------------

# Reference `ai_llm/performance_optimizer.py` (`LLMPerformanceOptimizer`):
# thresholds `:52-57`, EMA update + clamped success-rate walk `:84-125`,
# constraint filter + per-use-case selection `:127-194,217-261`. The
# telemetry stream is deterministic hash-derived inference events (no live
# endpoint in the charter): each key's last _LLM_TEL_WINDOW calls per
# model, with per-model level offsets so the constraint filter genuinely
# excludes some models.
_LLM_TEL_WINDOW = 100
_LLM_MAX_TIME = 30.0
_LLM_MIN_SUCCESS = 0.95
_LLM_MIN_ACC = 0.60

_LLM_HU = "('0x' || SUBSTR(MD5('llm|' || event_id || '|{tag}'), 1, 6))::BIGINT / 16777216.0"
_LLM_HM = "('0x' || SUBSTR(MD5('llm|' || event_type || '|{tag}'), 1, 6))::BIGINT / 16777216.0"


def _llm_state_kernel(cols):
    """Fold the EMA + clamped-success-rate state over one model's
    telemetry (reference `performance_optimizer.py:84-125`)."""
    import numpy as np

    order = np.argsort(cols["seq"], kind="stable")
    t = cols["t_inf"][order]
    k = cols["tps"][order]
    s = cols["succ"][order]
    a = cols["acc"][order]
    model = str(cols["event_type"][0])
    alpha = 0.1
    avg_t, avg_k, acc = float(t[0]), float(k[0]), float(a[0])
    sr = 1.0 if bool(s[0]) else 0.0
    for i in range(1, len(t)):
        avg_t = alpha * float(t[i]) + (1 - alpha) * avg_t
        avg_k = alpha * float(k[i]) + (1 - alpha) * avg_k
        acc = alpha * float(a[i]) + (1 - alpha) * acc
        sr = min(1.0, sr + 0.01) if bool(s[i]) else max(0.0, sr - 0.05)
    return [(model, int(len(t)), avg_t, avg_k, sr, acc)]


@query(
    "llm_model_selection",
    oracle=f"""
    WITH RECURSIVE ranked AS (
      SELECT event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    ),
    tel AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS seq,
             1.0 + 40.0 * {_LLM_HM.format(tag='mt')}
                 * (0.5 + {_LLM_HU.format(tag='t')}) AS t_inf,
             30.0 * {_LLM_HM.format(tag='mk')}
                 * (0.5 + {_LLM_HU.format(tag='k')}) AS tps,
             {_LLM_HU.format(tag='s')} < 0.95 AS succ,
             LEAST(0.25 + 0.7 * {_LLM_HM.format(tag='ma')}
                   * (0.5 + {_LLM_HU.format(tag='a')}), 0.99) AS acc
      FROM ranked WHERE rd <= {_LLM_TEL_WINDOW}
    ),
    rec AS (
      SELECT event_type, 1 AS i,
             t_inf AS avg_t, tps AS avg_k,
             CASE WHEN succ THEN 1.0 ELSE 0.0 END AS sr, acc
      FROM tel WHERE seq = 1
      UNION ALL
      SELECT t.event_type, r.i + 1,
             0.1 * t.t_inf + 0.9 * r.avg_t,
             0.1 * t.tps + 0.9 * r.avg_k,
             CASE WHEN t.succ THEN LEAST(1.0, r.sr + 0.01)
                  ELSE GREATEST(0.0, r.sr - 0.05) END,
             0.1 * t.acc + 0.9 * r.acc
      FROM rec r JOIN tel t ON t.event_type = r.event_type
                           AND t.seq = r.i + 1
    ),
    nmax AS (SELECT event_type, MAX(seq) AS n FROM tel GROUP BY event_type),
    state AS (
      SELECT r.event_type AS model, n.n, r.avg_t, r.avg_k, r.sr, r.acc
      FROM rec r JOIN nmax n ON n.event_type = r.event_type AND r.i = n.n
    ),
    suitable AS (
      SELECT * FROM state
      WHERE avg_t <= {_LLM_MAX_TIME} AND acc >= {_LLM_MIN_ACC}
        AND sr >= {_LLM_MIN_SUCCESS}
    ),
    usecases(use_case) AS (
      VALUES ('fast'), ('accurate'), ('real_time'), ('balanced')
    ),
    scored AS (
      SELECT u.use_case, s.model, s.avg_t, s.acc,
             ROW_NUMBER() OVER (
               PARTITION BY u.use_case
               ORDER BY CASE u.use_case
                 WHEN 'fast' THEN s.avg_t
                 WHEN 'accurate' THEN -s.acc
                 WHEN 'real_time'
                 THEN -(0.6 * (1.0 / GREATEST(s.avg_t, 0.1)) + 0.4 * s.acc)
                 ELSE -((1.0 / GREATEST(s.avg_t, 0.1)) + s.avg_k / 20.0
                        + s.acc + s.sr) / 4.0 END ASC,
                 CASE WHEN u.use_case IN ('fast', 'accurate')
                      THEN s.model END ASC,
                 CASE WHEN u.use_case IN ('real_time', 'balanced')
                      THEN s.model END DESC
             ) AS rk
      FROM usecases u CROSS JOIN suitable s
    ),
    best AS (SELECT * FROM scored WHERE rk = 1),
    alts AS (
      SELECT b.use_case, s.model,
             ROW_NUMBER() OVER (PARTITION BY b.use_case ORDER BY s.model)
               AS ra
      FROM best b JOIN suitable s ON s.model <> b.model
    ),
    altp AS (
      SELECT use_case,
             MAX(CASE WHEN ra = 1 THEN model END) AS alt1,
             MAX(CASE WHEN ra = 2 THEN model END) AS alt2
      FROM alts GROUP BY use_case
    )
    SELECT u.use_case,
           (SELECT COUNT(*) FROM suitable) AS n_suitable,
           COALESCE(b.model, 'default_fallback') AS recommended_model,
           ROUND(COALESCE(b.avg_t, 20.0), 6) AS expected_inference_time,
           ROUND(COALESCE(b.acc, 0.60), 6) AS expected_accuracy,
           CASE WHEN b.model IS NULL THEN 'no_suitable_models_default'
                ELSE 'optimized_' || u.use_case END AS optimization_reason,
           a.alt1, a.alt2
    FROM usecases u
    LEFT JOIN best b ON b.use_case = u.use_case
    LEFT JOIN altp a ON a.use_case = u.use_case
    """,
)
def llm_model_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM performance optimizer — reference
    `ai_llm/performance_optimizer.py:50-261`: per-model telemetry folds
    through the alpha=0.1 EMA (inference time, token rate, accuracy) and
    the clamped success-rate walk (+0.01 capped at 1 on success, -0.05
    floored at 0 on failure — bounded sequential state, the CUSUM
    recursion family); models passing the 30s / 0.60 accuracy / 0.95
    success thresholds contend per use case: fastest, most accurate,
    0.6*speed+0.4*accuracy (real_time), and the equal-weight 4-factor
    blend (balanced); alternatives are the other suitable models; an
    empty suitable set yields the reference's default-fallback row
    (20.0s / 0.60). Telemetry is hash-derived per (model, call) with
    per-model level offsets so the constraint filter genuinely excludes
    models (no live endpoint in the charter); tie order is pinned
    (the reference's tuple sort is name-DESC on score ties, its min/max
    are insertion-order — a distributed engine needs a total order).

    Spark side folds the state in an Arrow kernel per model (5 groups x
    100 rows); the oracle replays it as a recursive CTE."""
    from ..functions.scalars import hash_unit_interval
    from ..operators.arrowgroup import grouped_numpy
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    ev = load_table(spark, sf_dir, "events")
    wd = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wa = Window.partitionBy("event_type").orderBy("ts", "event_id")

    def hu(tag):
        return hash_unit_interval(F.lit("llm"), F.col("event_id"), F.lit(tag))

    def hm(tag):
        return hash_unit_interval(F.lit("llm"), F.col("event_type"), F.lit(tag))

    tel = (
        ev.withColumn("rd", F.row_number().over(wd))
        .filter(F.col("rd") <= _LLM_TEL_WINDOW)
        .select(
            "event_type",
            F.row_number().over(wa).alias("seq"),
            (1.0 + 40.0 * hm("mt") * (0.5 + hu("t"))).alias("t_inf"),
            (30.0 * hm("mk") * (0.5 + hu("k"))).alias("tps"),
            (hu("s") < 0.95).alias("succ"),
            F.least(
                0.25 + 0.7 * hm("ma") * (0.5 + hu("a")), F.lit(0.99)
            ).alias("acc"),
        )
    )
    schema = StructType(
        [
            StructField("model", StringType()),
            StructField("n", IntegerType()),
            StructField("avg_t", DoubleType()),
            StructField("avg_k", DoubleType()),
            StructField("sr", DoubleType()),
            StructField("acc", DoubleType()),
        ]
    )
    state = grouped_numpy(tel, ["event_type"], schema, _llm_state_kernel)
    suitable = state.filter(
        (F.col("avg_t") <= _LLM_MAX_TIME)
        & (F.col("acc") >= _LLM_MIN_ACC)
        & (F.col("sr") >= _LLM_MIN_SUCCESS)
    )
    usecases = literal_grid(
        spark,
        [("fast",), ("accurate",), ("real_time",), ("balanced",)],
        "use_case STRING",
    )
    ord_key = (
        F.when(F.col("use_case") == "fast", F.col("avg_t"))
        .when(F.col("use_case") == "accurate", -F.col("acc"))
        .when(
            F.col("use_case") == "real_time",
            -(0.6 * (1.0 / F.greatest(F.col("avg_t"), F.lit(0.1))) + 0.4 * F.col("acc")),
        )
        .otherwise(
            -(
                (1.0 / F.greatest(F.col("avg_t"), F.lit(0.1)))
                + F.col("avg_k") / 20.0
                + F.col("acc")
                + F.col("sr")
            )
            / 4.0
        )
    )
    tie_asc = F.when(
        F.col("use_case").isin("fast", "accurate"), F.col("model")
    )
    tie_desc = F.when(
        F.col("use_case").isin("real_time", "balanced"), F.col("model")
    )
    # no broadcast hint: `suitable` is an events-derived aggregate, and
    # the static hint would pattern-match the corpus-scaling hazard class
    # planaudit guards; AQE broadcasts the <=|event_type| rows at runtime
    scored = usecases.crossJoin(suitable).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("use_case").orderBy(
                ord_key.asc(), tie_asc.asc(), tie_desc.desc()
            )
        ),
    )
    best = scored.filter(F.col("rk") == 1).select(
        "use_case",
        F.col("model").alias("b_model"),
        F.col("avg_t").alias("b_t"),
        F.col("acc").alias("b_acc"),
    )
    alts = (
        best.join(
            suitable.select(F.col("model").alias("a_model")),
            F.col("a_model") != F.col("b_model"),
        )
        .withColumn(
            "ra",
            F.row_number().over(
                Window.partitionBy("use_case").orderBy("a_model")
            ),
        )
        .groupBy("use_case")
        .agg(
            F.max(F.when(F.col("ra") == 1, F.col("a_model"))).alias("alt1"),
            F.max(F.when(F.col("ra") == 2, F.col("a_model"))).alias("alt2"),
        )
    )
    n_suit = suitable.count()
    return (
        usecases.join(best, "use_case", "left")
        .join(alts, "use_case", "left")
        .select(
            "use_case",
            F.lit(n_suit).cast("long").alias("n_suitable"),
            F.coalesce(F.col("b_model"), F.lit("default_fallback")).alias(
                "recommended_model"
            ),
            r6(F.coalesce(F.col("b_t"), F.lit(20.0))).alias(
                "expected_inference_time"
            ),
            r6(F.coalesce(F.col("b_acc"), F.lit(0.60))).alias(
                "expected_accuracy"
            ),
            F.when(
                F.col("b_model").isNull(), "no_suitable_models_default"
            )
            .otherwise(F.concat(F.lit("optimized_"), F.col("use_case")))
            .alias("optimization_reason"),
            "alt1",
            "alt2",
        )
    )


# ---------------------------------------------------------------------------
# 5-layer LLM signal validation (SignalValidator, strict mode)
# ---------------------------------------------------------------------------

# Reference `ai_llm/signal_validator.py`: regime detector `:100-135`,
# market context `:362-427`, the five layers `:599-767,769-...,956-1082`,
# verdict assembly `:429-597`; Kelly helper `etl/portfolio_math.py:
# 249-263`. Strict-mode defaults (risk_mode config absent): counter-trend
# and regime filters block, max 2 warnings per layer. Constants are the
# constructor defaults `:186-203`.
_SV_MIN_CONF = 0.55
_SV_MAX_VOL_PCTL = 0.95
_SV_MAX_POS = 0.02
_SV_TXN_COST = 0.001
_SV_REGIME_WINDOW = 60

# two-sided 5% Student-t critical values, df 1..40; beyond 40 the 2.0
# approximation is within 0.02 of the exact value (t_0.975,60 = 2.0003)
_T_CRIT_5PCT = {
    1: 12.7062, 2: 4.3027, 3: 3.1824, 4: 2.7764, 5: 2.5706, 6: 2.4469,
    7: 2.3646, 8: 2.3060, 9: 2.2622, 10: 2.2281, 11: 2.2010, 12: 2.1788,
    13: 2.1604, 14: 2.1448, 15: 2.1314, 16: 2.1199, 17: 2.1098,
    18: 2.1009, 19: 2.0930, 20: 2.0860, 21: 2.0796, 22: 2.0739,
    23: 2.0687, 24: 2.0639, 25: 2.0595, 26: 2.0555, 27: 2.0518,
    28: 2.0484, 29: 2.0452, 30: 2.0423, 31: 2.0395, 32: 2.0369,
    33: 2.0345, 34: 2.0322, 35: 2.0301, 36: 2.0281, 37: 2.0262,
    38: 2.0244, 39: 2.0227, 40: 2.0211,
}


def _t_crit_sql(df_expr: str) -> str:
    whens = " ".join(f"WHEN {k} THEN {v}" for k, v in _T_CRIT_5PCT.items())
    return f"CASE {df_expr} {whens} ELSE 2.0 END"


def _t_crit_col(df_col):
    expr = None
    for k, v in _T_CRIT_5PCT.items():
        expr = (
            F.when(df_col == k, F.lit(v))
            if expr is None
            else expr.when(df_col == k, F.lit(v))
        )
    return expr.otherwise(F.lit(2.0))


@query(
    "llm_signal_validation",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    feat AS (
      SELECT user_id, rn, value, lr,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS ma5,
             STDDEV_SAMP(lr) OVER (PARTITION BY user_id ORDER BY rn
                                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS vol20,
             STDDEV_SAMP(value) OVER (PARTITION BY user_id ORDER BY rn
                                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS rv,
             STDDEV_SAMP(lr) OVER (PARTITION BY user_id ORDER BY rn
                                   ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
               AS rvr,
             COUNT(lr) OVER (PARTITION BY user_id ORDER BY rn
                             ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
               AS rvr_n,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY rn
                            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS rv_n,
             value / LAG(value) OVER (PARTITION BY user_id ORDER BY rn) - 1.0
               AS pc,
             MAX(rn) OVER (PARTITION BY user_id) AS n
      FROM s
    ),
    -- pandas rolling(20).std() is NULL below 20 obs; the 60-window return
    -- vol likewise needs 60 lr values
    f2 AS (
      SELECT user_id, rn, value, lr, ma5, vol20,
             CASE WHEN rv_n >= 20 THEN rv END AS rv,
             CASE WHEN rvr_n >= 60 THEN rvr END AS rvr,
             pc, n
      FROM feat
    ),
    ctx AS (
      SELECT user_id, ANY_VALUE(n) AS n,
             MAX(CASE WHEN rn = n THEN value END) AS cp,
             AVG(CASE WHEN rn > n - 20 THEN value END) AS sma20_raw,
             AVG(CASE WHEN rn > n - 50 THEN value END) AS sma50_raw,
             AVG(lr) AS mean_lr,
             STDDEV_POP(lr) AS sd_lr_pop,
             MAX(CASE WHEN rn = n THEN rv END) AS rv_last,
             MAX(CASE WHEN rn = n THEN rvr END) AS current_vol,
             COUNT(CASE WHEN rn > n - 60 THEN rvr END) AS m_recent,
             AVG(CASE WHEN rn > n - 60 THEN rvr END) AS mean_recent,
             STDDEV_SAMP(CASE WHEN rn > n - 60 THEN rvr END) AS sd_recent,
             SUM(CASE WHEN rn > n - 59 THEN pc END) AS trend,
             MAX(CASE WHEN rn = n THEN ma5 END) AS ma5_last,
             MAX(CASE WHEN rn = n THEN vol20 END) AS vol20_last,
             AVG(CASE WHEN lr > 0 THEN lr END) AS avg_win_raw,
             ABS(AVG(CASE WHEN lr < 0 THEN lr END)) AS avg_loss_raw,
             COUNT(CASE WHEN lr > 0 THEN 1 END) AS n_win,
             COUNT(CASE WHEN lr < 0 THEN 1 END) AS n_loss
      FROM f2 GROUP BY user_id HAVING ANY_VALUE(n) >= 21
    ),
    vp AS (
      SELECT c.user_id,
             SUM(CASE WHEN f.rv IS NOT NULL AND c.rv_last > f.rv
                      THEN 1.0 ELSE 0.0 END) / c.n AS vol_percentile
      FROM ctx c JOIN f2 f ON f.user_id = c.user_id
      GROUP BY c.user_id, c.n
    ),
    sig AS (
      SELECT c.*, v.vol_percentile,
             CASE WHEN c.n >= 20 THEN c.sma20_raw ELSE c.cp END AS sma20,
             CASE WHEN c.n >= 50 THEN c.sma50_raw
                  WHEN c.n >= 20 THEN c.sma20_raw ELSE c.cp END AS sma50,
             c.sd_lr_pop * SQRT(252.0) AS ann_vol,
             (c.ma5_last - c.cp) / c.cp - 0.002 AS er,
             COALESCE(c.avg_win_raw, 0.01) AS avg_win,
             COALESCE(c.avg_loss_raw, 0.01) AS avg_loss
      FROM ctx c JOIN vp v ON v.user_id = c.user_id
    ),
    act AS (
      SELECT *,
             CASE WHEN er > 0.01 AND er / NULLIF(vol20_last, 0) > 0.5
                  THEN 'BUY'
                  WHEN er < -0.01 AND -er / NULLIF(vol20_last, 0) > 0.5
                  THEN 'SELL'
                  ELSE 'HOLD' END AS action,
             LEAST(ABS(er) / NULLIF(vol20_last, 0), 1.0) AS confidence,
             CASE WHEN sd_lr_pop * SQRT(252.0) > 0.4 THEN 'high'
                  WHEN sd_lr_pop * SQRT(252.0) > 0.2 THEN 'medium'
                  ELSE 'low' END AS risk_level
      FROM sig
    ),
    reg AS (
      SELECT *,
             CASE
               WHEN n < {_SV_REGIME_WINDOW} + 1 THEN 'insufficient'
               WHEN m_recent < 2 OR current_vol IS NULL THEN 'sideways'
               WHEN sd_recent = 0
                 OR ABS((mean_recent - current_vol)
                        / (sd_recent / SQRT(m_recent)))
                    > ({_t_crit_sql("CAST(m_recent - 1 AS INTEGER)")})
               THEN CASE WHEN current_vol > mean_recent
                         THEN 'high_vol' ELSE 'low_vol' END
               ELSE 'normal' END AS vol_regime
      FROM act
    ),
    reg2 AS (
      SELECT *,
             CASE WHEN vol_regime = 'insufficient' THEN 'sideways_insufficient'
                  WHEN trend > 0.05 THEN 'bull_' || vol_regime
                  WHEN trend < -0.05 THEN 'bear_' || vol_regime
                  ELSE 'sideways_' || vol_regime END AS market_regime
      FROM reg
    ),
    lay AS (
      SELECT *,
             CASE WHEN action = 'BUY' AND cp < sma20 THEN 1 ELSE 0 END
           + CASE WHEN action = 'BUY' AND sma20 < sma50 THEN 1 ELSE 0 END
           + CASE WHEN action = 'SELL' AND cp > sma20 THEN 1 ELSE 0 END
           + CASE WHEN action = 'SELL' AND sma20 > sma50 THEN 1 ELSE 0 END
           + CASE WHEN vol_percentile > {_SV_MAX_VOL_PCTL} THEN 1 ELSE 0 END
               AS w1,
             CASE WHEN market_regime LIKE 'bear%' AND action = 'BUY'
                  THEN 1 ELSE 0 END
           + CASE WHEN market_regime LIKE 'bull%' AND action = 'SELL'
                   AND confidence < 0.7 THEN 1 ELSE 0 END
           + CASE WHEN market_regime LIKE '%high_vol%'
                   AND risk_level = 'high' THEN 1 ELSE 0 END AS w2,
             GREATEST(0.0, LEAST(
               GREATEST(0.0, LEAST(
                 ((avg_win / avg_loss) * GREATEST(0.51, confidence)
                  - (1.0 - GREATEST(0.51, confidence)))
                 / (avg_win / avg_loss), 0.25)) * 0.5,
               {_SV_MAX_POS})) AS rec_frac
      FROM reg2
    ),
    lay2 AS (
      SELECT *,
             CASE WHEN rec_frac < 0.005 THEN 1 ELSE 0 END
           + CASE WHEN confidence < 0.6 AND rec_frac > 0.015
                  THEN 1 ELSE 0 END
           + CASE WHEN ann_vol > 0.4 THEN 1 ELSE 0 END AS w3,
             CASE WHEN action = 'BUY' THEN 1 ELSE 0 END AS w4,
             CASE WHEN ABS(er) IS NOT NULL
                   AND (GREATEST(0.0, ABS(er) - 2.0 * {_SV_TXN_COST}) * 1e4)
                       / (2.0 * {_SV_TXN_COST} * 1e4) < 1.0
                  THEN 1 ELSE 0 END AS w5
      FROM lay
    ),
    verdict AS (
      SELECT *,
             CASE WHEN w1 < 2 THEN 1 ELSE 0 END AS l1,
             CASE WHEN w2 < 2 THEN 1 ELSE 0 END AS l2,
             CASE WHEN w3 < 2 THEN 1 ELSE 0 END AS l3,
             1 AS l4,
             CASE WHEN w5 < 2 THEN 1 ELSE 0 END AS l5,
             w1 + w2 + w3 + w4 + w5 AS n_warnings
      FROM lay2
    ),
    adj AS (
      SELECT *,
             (5 - (l1 + l2 + l3 + l4 + l5)) AS failed_layers,
             GREATEST(0.0, LEAST(1.0,
               confidence
               * GREATEST(0.0, 1.0 - 0.15 * (5 - (l1 + l2 + l3 + l4 + l5)))
               * CASE WHEN w1 + w2 + w3 + w4 + w5 > 0
                      THEN GREATEST(0.0,
                           1.0 - 0.05 * (w1 + w2 + w3 + w4 + w5))
                      ELSE 1.0 END)) AS adj_conf
      FROM verdict
    )
    SELECT user_id, action,
           ROUND(confidence, 6) AS confidence,
           risk_level, market_regime,
           ROUND(vol_percentile, 6) AS vol_percentile,
           ROUND(rec_frac, 6) AS recommended_fraction,
           CAST(w1 AS INTEGER) AS w_statistical,
           CAST(w2 AS INTEGER) AS w_regime,
           CAST(w3 AS INTEGER) AS w_position,
           CAST(w4 AS INTEGER) AS w_correlation,
           CAST(w5 AS INTEGER) AS w_costs,
           CAST(n_warnings AS INTEGER) AS n_warnings,
           CAST(failed_layers AS INTEGER) AS failed_layers,
           ROUND(adj_conf, 6) AS adjusted_confidence,
           CASE WHEN l1 + l2 + l3 + l4 + l5 = 5
                 AND adj_conf >= {_SV_MIN_CONF} THEN 1 ELSE 0 END AS is_valid,
           CASE WHEN l1 + l2 + l3 + l4 + l5 = 5
                 AND adj_conf >= {_SV_MIN_CONF} THEN 'EXECUTE'
                WHEN l1 + l2 + l3 + l4 + l5 = 5 AND adj_conf >= 0.45
                THEN 'MONITOR'
                ELSE 'REJECT' END AS recommendation
    FROM adj
    """,
)
@session_frame_cache
def llm_signal_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SignalValidator's 5-layer pre-execution gate — reference
    `ai_llm/signal_validator.py:429-597` in strict mode (risk_mode
    config absent), fed by the engine's own signal_generation gate:

    - Layer 1 (`:599-662`): counter-trend checks against SMA(20)/SMA(50)
      plus the 95th-percentile volatility ceiling (pandas' price-level
      rolling(20).std percent-rank); valid while < 2 warnings.
    - Layer 2 (`:664-728`): the `detect_market_regime` t-test (`:100-135`,
      rolling 60-window return vol vs its recent mean — significance via
      the two-sided 5% Student-t critical values, exact for the df these
      series produce) composed with the +/-5% trend into
      bull/bear/sideways x high/low/normal vol; bear-BUY, modest-
      confidence bull-SELL and high-risk-in-high-vol warnings.
    - Layer 3 (`:730-767`): half-Kelly sizing (`portfolio_math.py:
      249-263`, 25% cap) capped at the 2% position ceiling; too-small /
      low-confidence-oversized / high-annualized-vol warnings.
    - Layer 4 (`:769-...`): without a portfolio snapshot the reference
      emits the BUY notice and passes — replicated literally.
    - Layer 5 (`:956-1082`): edge-vs-roundtrip-cost ratio from the
      signal's expected return and the 2x10bp engine cost; the
      cost-vs-position-size rule is arithmetically dead at these
      constants (0.002 > 0.02 never holds), as in the reference.

    Verdict (`:515-589`): failed layers scale confidence by 15% each,
    every warning by 5%, clamp to [0,1]; EXECUTE needs all layers and
    adjusted confidence >= 0.55, MONITOR >= 0.45, else REJECT. The
    weather overlay and provenance edge adjustment are inert here (no
    commodity tickers, no decision context) and documented as such.
    One window pass + two groupBys per key; the validator never touches
    row data twice."""
    s = _series(spark, sf_dir)
    wp = _w()
    n_w = Window.partitionBy("user_id")
    feat = s.select(
        "user_id",
        "rn",
        "value",
        "lr",
        F.avg("value").over(_w((-4, 0))).alias("ma5"),
        F.stddev_samp("lr").over(_w((-19, 0))).alias("vol20"),
        F.when(
            F.count(F.lit(1)).over(_w((-19, 0))) >= 20,
            F.stddev_samp("value").over(_w((-19, 0))),
        ).alias("rv"),
        F.when(
            F.count("lr").over(_w((-59, 0))) >= 60,
            F.stddev_samp("lr").over(_w((-59, 0))),
        ).alias("rvr"),
        (F.col("value") / F.lag("value").over(wp) - 1.0).alias("pc"),
        F.max("rn").over(n_w).alias("n"),
    )
    n = F.col("n")
    rn = F.col("rn")
    ctx = (
        feat.groupBy("user_id")
        .agg(
            F.any_value("n").alias("n"),
            F.max(F.when(rn == n, F.col("value"))).alias("cp"),
            F.avg(F.when(rn > n - 20, F.col("value"))).alias("sma20_raw"),
            F.avg(F.when(rn > n - 50, F.col("value"))).alias("sma50_raw"),
            F.avg("lr").alias("mean_lr"),
            F.stddev_pop("lr").alias("sd_lr_pop"),
            F.max(F.when(rn == n, F.col("rv"))).alias("rv_last"),
            F.max(F.when(rn == n, F.col("rvr"))).alias("current_vol"),
            F.count(F.when(rn > n - 60, F.col("rvr"))).alias("m_recent"),
            F.avg(F.when(rn > n - 60, F.col("rvr"))).alias("mean_recent"),
            F.stddev_samp(F.when(rn > n - 60, F.col("rvr"))).alias("sd_recent"),
            F.sum(F.when(rn > n - 59, F.col("pc"))).alias("trend"),
            F.max(F.when(rn == n, F.col("ma5"))).alias("ma5_last"),
            F.max(F.when(rn == n, F.col("vol20"))).alias("vol20_last"),
            F.avg(F.when(F.col("lr") > 0, F.col("lr"))).alias("avg_win_raw"),
            F.abs(F.avg(F.when(F.col("lr") < 0, F.col("lr")))).alias(
                "avg_loss_raw"
            ),
        )
        .filter(F.col("n") >= 21)
    )
    vp = (
        ctx.select("user_id", "rv_last", F.col("n").alias("nn"))
        .join(feat.select("user_id", "rv"), "user_id")
        .groupBy("user_id", "nn")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("rv").isNotNull()
                        & (F.col("rv_last") > F.col("rv")),
                        1.0,
                    ).otherwise(0.0)
                )
                / F.col("nn")
            ).alias("vol_percentile")
        )
        .select("user_id", "vol_percentile")
    )
    sig = ctx.join(vp, "user_id")
    cp = F.col("cp")
    sma20 = F.when(F.col("n") >= 20, F.col("sma20_raw")).otherwise(cp)
    sma50 = (
        F.when(F.col("n") >= 50, F.col("sma50_raw"))
        .when(F.col("n") >= 20, F.col("sma20_raw"))
        .otherwise(cp)
    )
    ann_vol = F.col("sd_lr_pop") * F.sqrt(F.lit(252.0))
    er = (F.col("ma5_last") - cp) / cp - 0.002
    sig = sig.select(
        "*",
        sma20.alias("sma20"),
        sma50.alias("sma50"),
        ann_vol.alias("ann_vol"),
        er.alias("er"),
        F.coalesce(F.col("avg_win_raw"), F.lit(0.01)).alias("avg_win"),
        F.coalesce(F.col("avg_loss_raw"), F.lit(0.01)).alias("avg_loss"),
    )
    erc = F.col("er")
    v20 = F.nullif(F.col("vol20_last"), F.lit(0.0))
    act = sig.select(
        "*",
        F.when((erc > 0.01) & (erc / v20 > 0.5), "BUY")
        .when((erc < -0.01) & (-erc / v20 > 0.5), "SELL")
        .otherwise("HOLD")
        .alias("action"),
        F.least(F.abs(erc) / v20, F.lit(1.0)).alias("confidence"),
        F.when(F.col("ann_vol") > 0.4, "high")
        .when(F.col("ann_vol") > 0.2, "medium")
        .otherwise("low")
        .alias("risk_level"),
    )
    tstat = F.abs(
        (F.col("mean_recent") - F.col("current_vol"))
        / (F.col("sd_recent") / F.sqrt(F.col("m_recent")))
    )
    vol_regime = (
        F.when(F.col("n") < _SV_REGIME_WINDOW + 1, "insufficient")
        .when(
            (F.col("m_recent") < 2) | F.col("current_vol").isNull(), "sideways"
        )
        .when(
            (F.col("sd_recent") == 0)
            | (tstat > _t_crit_col((F.col("m_recent") - 1).cast("int"))),
            F.when(
                F.col("current_vol") > F.col("mean_recent"), "high_vol"
            ).otherwise("low_vol"),
        )
        .otherwise("normal")
    )
    reg = act.withColumn("vol_regime", vol_regime)
    market_regime = (
        F.when(F.col("vol_regime") == "insufficient", "sideways_insufficient")
        .when(F.col("trend") > 0.05, F.concat(F.lit("bull_"), F.col("vol_regime")))
        .when(F.col("trend") < -0.05, F.concat(F.lit("bear_"), F.col("vol_regime")))
        .otherwise(F.concat(F.lit("sideways_"), F.col("vol_regime")))
    )
    reg2 = reg.withColumn("market_regime", market_regime)
    a = F.col("action")
    mr = F.col("market_regime")
    w1 = (
        ((a == "BUY") & (cp < F.col("sma20"))).cast("int")
        + ((a == "BUY") & (F.col("sma20") < F.col("sma50"))).cast("int")
        + ((a == "SELL") & (cp > F.col("sma20"))).cast("int")
        + ((a == "SELL") & (F.col("sma20") > F.col("sma50"))).cast("int")
        + (F.col("vol_percentile") > _SV_MAX_VOL_PCTL).cast("int")
    )
    w2 = (
        (mr.startswith("bear") & (a == "BUY")).cast("int")
        + (mr.startswith("bull") & (a == "SELL") & (F.col("confidence") < 0.7)).cast("int")
        + (mr.contains("high_vol") & (F.col("risk_level") == "high")).cast("int")
    )
    b = F.col("avg_win") / F.col("avg_loss")
    p = F.greatest(F.lit(0.51), F.col("confidence"))
    kelly = F.greatest(
        F.lit(0.0), F.least((b * p - (1.0 - p)) / b, F.lit(0.25))
    )
    rec_frac = F.greatest(
        F.lit(0.0), F.least(kelly * 0.5, F.lit(_SV_MAX_POS))
    )
    lay = reg2.select(
        "*", w1.alias("w1"), w2.alias("w2"), rec_frac.alias("rec_frac")
    )
    w3 = (
        (F.col("rec_frac") < 0.005).cast("int")
        + ((F.col("confidence") < 0.6) & (F.col("rec_frac") > 0.015)).cast("int")
        + (F.col("ann_vol") > 0.4).cast("int")
    )
    w4 = (a == "BUY").cast("int")
    edge_ratio = (
        F.greatest(F.lit(0.0), F.abs(F.col("er")) - 2.0 * _SV_TXN_COST) * 1e4
    ) / (2.0 * _SV_TXN_COST * 1e4)
    w5 = (edge_ratio < 1.0).cast("int")
    lay2 = lay.select("*", w3.alias("w3"), w4.alias("w4"), w5.alias("w5"))
    l1 = (F.col("w1") < 2).cast("int")
    l2 = (F.col("w2") < 2).cast("int")
    l3 = (F.col("w3") < 2).cast("int")
    l4 = F.lit(1)
    l5 = (F.col("w5") < 2).cast("int")
    nw = F.col("w1") + F.col("w2") + F.col("w3") + F.col("w4") + F.col("w5")
    layers = l1 + l2 + l3 + l4 + l5
    failed = 5 - layers
    adj = F.greatest(
        F.lit(0.0),
        F.least(
            F.lit(1.0),
            F.col("confidence")
            * F.greatest(F.lit(0.0), 1.0 - 0.15 * failed)
            * F.when(
                nw > 0, F.greatest(F.lit(0.0), 1.0 - 0.05 * nw)
            ).otherwise(F.lit(1.0)),
        ),
    )
    out = lay2.select(
        "user_id",
        "action",
        r6(F.col("confidence")).alias("confidence"),
        "risk_level",
        "market_regime",
        r6(F.col("vol_percentile")).alias("vol_percentile"),
        r6(F.col("rec_frac")).alias("recommended_fraction"),
        F.col("w1").alias("w_statistical"),
        F.col("w2").alias("w_regime"),
        F.col("w3").alias("w_position"),
        F.col("w4").alias("w_correlation"),
        F.col("w5").alias("w_costs"),
        nw.alias("n_warnings"),
        failed.alias("failed_layers"),
        r6(adj).alias("adjusted_confidence"),
        ((layers == 5) & (adj >= _SV_MIN_CONF)).cast("int").alias("is_valid"),
        F.when((layers == 5) & (adj >= _SV_MIN_CONF), "EXECUTE")
        .when((layers == 5) & (adj >= 0.45), "MONITOR")
        .otherwise("REJECT")
        .alias("recommendation"),
    )
    return out


# ---------------------------------------------------------------------------
# Historical signal-quality backtest (BacktestReport)
# ---------------------------------------------------------------------------


@query(
    "signal_backtest_report",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    feat AS (
      SELECT user_id, rn, value,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS ma5,
             STDDEV_SAMP(lr) OVER (PARTITION BY user_id ORDER BY rn
                                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS vol20,
             LEAD(value, 5) OVER (PARTITION BY user_id ORDER BY rn) AS fwd5
      FROM s
    ),
    sigrows AS (
      SELECT user_id, rn,
             (ma5 - value) / value - 0.002 AS er, vol20, value, fwd5,
             CASE WHEN (ma5 - value) / value - 0.002 > 0.01
                   AND ((ma5 - value) / value - 0.002)
                       / NULLIF(vol20, 0) > 0.5 THEN 'BUY'
                  WHEN (ma5 - value) / value - 0.002 < -0.01
                   AND (-((ma5 - value) / value - 0.002))
                       / NULLIF(vol20, 0) > 0.5 THEN 'SELL'
                  ELSE 'HOLD' END AS action,
             LEAST(ABS((ma5 - value) / value - 0.002)
                   / NULLIF(vol20, 0), 1.0) AS conf
      FROM feat WHERE rn >= 21
    ),
    trades AS (
      SELECT user_id, rn, action, conf,
             fwd5 / value - 1.0 AS aret,
             CASE WHEN action = 'BUY' THEN fwd5 / value - 1.0
                  ELSE -(fwd5 / value - 1.0) END AS tret,
             CASE WHEN action = 'BUY' THEN 1.0 ELSE -1.0 END AS pdir,
             SIGN(fwd5 / value - 1.0) AS adir
      FROM sigrows
      WHERE action <> 'HOLD' AND fwd5 IS NOT NULL
    ),
    tstats AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_trades,
             AVG(CASE WHEN (action = 'BUY' AND aret > 0)
                       OR (action = 'SELL' AND aret < 0)
                      THEN 1.0 ELSE 0.0 END) AS hit_rate,
             SUM(CASE WHEN (action = 'BUY' AND aret > 0)
                       OR (action = 'SELL' AND aret < 0)
                      THEN ABS(aret) ELSE 0.0 END) AS gross_profit,
             SUM(CASE WHEN (action = 'BUY' AND aret > 0)
                       OR (action = 'SELL' AND aret < 0)
                      THEN 0.0 ELSE ABS(aret) END) AS gross_loss,
             AVG(tret) AS mean_r, STDDEV_POP(tret) AS sd_r,
             SUM(CASE WHEN 1.0 + tret < 0 THEN 1 ELSE 0 END) AS n_neg_base,
             SUM(CASE WHEN 1.0 + tret = 0 THEN 1 ELSE 0 END) AS n_zero_base,
             SUM(LN(ABS(NULLIF(1.0 + tret, 0)))) AS sum_ln_abs,
             COVAR_POP(pdir, adir)
               / NULLIF(STDDEV_POP(pdir) * STDDEV_POP(adir), 0) AS ic
      FROM trades GROUP BY user_id
    ),
    -- NW sqrt(m)-lag significance on the squared strategy-vs-benchmark
    -- differential (the reference routes through test_strategy_significance)
    dif AS (
      SELECT user_id, rn, POWER(tret - aret, 2) AS d
      FROM trades
    ),
    ctr AS (
      SELECT user_id, rn, d, AVG(d) OVER (PARTITION BY user_id) AS db,
             AVG(CASE WHEN 1 = 1 THEN d END) OVER (PARTITION BY user_id)
               AS _db2
      FROM dif
    ),
    lagd AS (
      SELECT user_id, rn, d, db, d - db AS c,
             {', '.join(f"LAG(d - db, {k}) OVER (PARTITION BY user_id ORDER BY rn) AS c{k}" for k in range(1, 10))}
      FROM ctr
    ),
    nw AS (
      SELECT user_id, COUNT(*) AS m, ANY_VALUE(db) AS mean_d,
             SUM(c * c) AS g0s,
             {', '.join(f"SUM(CASE WHEN c{k} IS NOT NULL THEN c * c{k} END) AS g{k}s" for k in range(1, 10))}
      FROM lagd GROUP BY user_id
    ),
    sigtest AS (
      SELECT user_id, m, mean_d,
             mean_d / SQRT(GREATEST(
               g0s / m + {' + '.join(f"CASE WHEN {k} <= CAST(FLOOR(SQRT(m)) AS INTEGER) AND g0s > 0 THEN 2.0 * (1.0 - {k} / (CAST(FLOOR(SQRT(m)) AS INTEGER) + 1.0)) * COALESCE(g{k}s, 0.0) / m ELSE 0.0 END" for k in range(1, 10))},
               1e-12) / m) AS t_stat
      FROM nw WHERE m >= 3
    ),
    irx AS (
      SELECT t.user_id,
             AVG(t.tret - t.aret)
               / CASE WHEN STDDEV_POP(t.tret - t.aret) = 0
                      THEN 1e-12 ELSE STDDEV_POP(t.tret - t.aret) END AS ir
      FROM trades t GROUP BY t.user_id
    ),
    allconf AS (
      SELECT user_id, AVG(LEAST(GREATEST(COALESCE(conf, 0.5), 0.0), 1.0))
               AS avg_confidence
      FROM sigrows GROUP BY user_id
    )
    SELECT ts.user_id,
           ts.n_trades AS trades_analyzed,
           ROUND(ts.hit_rate, 6) AS hit_rate,
           ROUND(CASE WHEN ts.gross_loss > 0
                      THEN ts.gross_profit / ts.gross_loss END, 6)
             AS profit_factor,
           ROUND(CASE WHEN ts.sd_r > 0
                      THEN ts.mean_r / ts.sd_r * SQRT(252.0)
                      ELSE 0.0 END, 6) AS sharpe_ratio,
           -- log of the annualization base: ln(1+annual_return)/1 =
           -- (252/30)*ln(1+cum). The raw compounded value reaches 1e40+
           -- on these series and cannot round hash-stably; the log form
           -- is the same information at tame magnitude. NULL exactly
           -- where numpy's (1+cum)**8.4 is nan (negative base) or cum=-1.
           ROUND(CASE
             WHEN ts.n_zero_base > 0 THEN NULL
             WHEN ts.n_neg_base % 2 = 1 THEN NULL
             ELSE 252.0 / 30.0 * ts.sum_ln_abs END, 6)
             AS annual_log_return,
           ROUND(ac.avg_confidence, 6) AS avg_confidence,
           ROUND(COALESCE(ts.ic, 0.0), 6) AS information_coefficient,
           ROUND(COALESCE(ir.ir, 0.0), 6) AS information_ratio,
           ROUND(COALESCE(st.t_stat, 0.0), 6) AS t_stat,
           ROUND(COALESCE({chi2_sf1_sql("st.t_stat * st.t_stat")}, 1.0), 6)
             AS p_normal,
           CASE WHEN st.t_stat IS NOT NULL
                 AND {chi2_sf1_sql("st.t_stat * st.t_stat")} < 0.05
                THEN 1 ELSE 0 END AS statistically_significant,
           CASE WHEN ts.hit_rate >= 0.55
                 AND (ts.gross_loss = 0
                      OR ts.gross_profit / ts.gross_loss >= 1.5)
                THEN 'APPROVE_FOR_LIVE_TRADING'
                WHEN ts.hit_rate >= 0.52 THEN 'CONTINUE_PAPER_TRADING'
                ELSE 'IMPROVE_SIGNALS' END AS recommendation
    FROM tstats ts
    JOIN allconf ac ON ac.user_id = ts.user_id
    LEFT JOIN irx ir ON ir.user_id = ts.user_id
    LEFT JOIN sigtest st ON st.user_id = ts.user_id
    """,
)
@shared_small_frame
def signal_backtest_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 30-day signal-quality backtest — reference
    `ai_llm/signal_validator.py:1084-1267` (`backtest_signal_quality`):
    every historical non-HOLD signal is scored against the 5th future
    bar; hit rate, profit factor (NULL when no losing side, the
    reference's infinity), population-std annualized Sharpe, the
    prod(1+r)-compounded annual return (sign-tracked exp-sum-log; a
    negative compounding base yields NULL exactly where numpy yields
    nan), average clamped confidence over ALL signals, the
    direction-correlation information coefficient, and the
    test_strategy_significance arm (information ratio + NW sqrt(m)-lag
    DM on the squared strategy-vs-benchmark differential — for BUY
    trades the differential is zero by construction, so significance is
    carried entirely by SELLs, faithfully). Verdict ladder: hit >= 0.55
    with PF >= 1.5 approves for live trading, hit >= 0.52 continues
    paper trading, else improve. Signals are the engine's own gate
    applied per bar; fewer than 3 trades skips significance with the
    reference's p=1 defaults. One window pass + per-key aggregations."""
    s = _series(spark, sf_dir)
    wp = _w()
    feat = s.select(
        "user_id",
        "rn",
        "value",
        F.avg("value").over(_w((-4, 0))).alias("ma5"),
        F.stddev_samp("lr").over(_w((-19, 0))).alias("vol20"),
        F.lead("value", 5).over(wp).alias("fwd5"),
    )
    er = (F.col("ma5") - F.col("value")) / F.col("value") - 0.002
    v = F.nullif(F.col("vol20"), F.lit(0.0))
    sigrows = feat.filter(F.col("rn") >= 21).select(
        "user_id",
        "rn",
        "value",
        "fwd5",
        er.alias("er"),
        F.when((er > 0.01) & (er / v > 0.5), "BUY")
        .when((er < -0.01) & (-er / v > 0.5), "SELL")
        .otherwise("HOLD")
        .alias("action"),
        F.least(F.abs(er) / v, F.lit(1.0)).alias("conf"),
    )
    aret = F.col("fwd5") / F.col("value") - 1.0
    trades = sigrows.filter(
        (F.col("action") != "HOLD") & F.col("fwd5").isNotNull()
    ).select(
        "user_id",
        "rn",
        "action",
        aret.alias("aret"),
        F.when(F.col("action") == "BUY", aret).otherwise(-aret).alias("tret"),
        F.when(F.col("action") == "BUY", 1.0).otherwise(-1.0).alias("pdir"),
        F.signum(aret).alias("adir"),
    )
    hit = ((F.col("action") == "BUY") & (F.col("aret") > 0)) | (
        (F.col("action") == "SELL") & (F.col("aret") < 0)
    )
    base = F.lit(1.0) + F.col("tret")
    tstats = trades.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.avg(hit.cast("double")).alias("hit_rate"),
        F.sum(F.when(hit, F.abs(F.col("aret"))).otherwise(0.0)).alias(
            "gross_profit"
        ),
        F.sum(F.when(hit, 0.0).otherwise(F.abs(F.col("aret")))).alias(
            "gross_loss"
        ),
        F.avg("tret").alias("mean_r"),
        F.stddev_pop("tret").alias("sd_r"),
        F.sum((base < 0).cast("long")).alias("n_neg_base"),
        F.sum((base == 0).cast("long")).alias("n_zero_base"),
        F.sum(F.log(F.abs(F.nullif(base, F.lit(0.0))))).alias("sum_ln_abs"),
        (
            F.covar_pop("pdir", "adir")
            / F.nullif(
                F.stddev_pop("pdir") * F.stddev_pop("adir"), F.lit(0.0)
            )
        ).alias("ic"),
    )
    # NW significance on the squared differential
    wo = Window.partitionBy("user_id").orderBy("rn")
    dif = trades.select(
        "user_id", "rn", F.pow(F.col("tret") - F.col("aret"), 2).alias("d")
    )
    ctr = dif.select(
        "user_id", "rn", "d",
        F.avg("d").over(Window.partitionBy("user_id")).alias("db"),
    )
    lagd = ctr.select(
        "*",
        (F.col("d") - F.col("db")).alias("c"),
        *[
            F.lag(F.col("d") - F.col("db"), k).over(wo).alias(f"c{k}")
            for k in range(1, 10)
        ],
    )
    nwagg = lagd.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("m"),
        F.any_value("db").alias("mean_d"),
        F.sum(F.col("c") * F.col("c")).alias("g0s"),
        *[
            F.sum(
                F.when(F.col(f"c{k}").isNotNull(), F.col("c") * F.col(f"c{k}"))
            ).alias(f"g{k}s")
            for k in range(1, 10)
        ],
    )
    m = F.col("m")
    lag = F.floor(F.sqrt(m)).cast("int")
    nw_var = F.col("g0s") / m
    for k in range(1, 10):
        nw_var = nw_var + F.when(
            (F.lit(k) <= lag) & (F.col("g0s") > 0),
            2.0 * (1.0 - k / (lag + 1.0)) * F.coalesce(F.col(f"g{k}s"), F.lit(0.0)) / m,
        ).otherwise(F.lit(0.0))
    sigtest = nwagg.filter(m >= 3).select(
        "user_id",
        (F.col("mean_d") / F.sqrt(F.greatest(nw_var, F.lit(1e-12)) / m)).alias(
            "t_stat"
        ),
    )
    irx = trades.groupBy("user_id").agg(
        (
            F.avg(F.col("tret") - F.col("aret"))
            / F.when(
                F.stddev_pop(F.col("tret") - F.col("aret")) == 0, 1e-12
            ).otherwise(F.stddev_pop(F.col("tret") - F.col("aret")))
        ).alias("ir")
    )
    allconf = sigrows.groupBy("user_id").agg(
        F.avg(
            F.least(
                F.greatest(F.coalesce(F.col("conf"), F.lit(0.5)), F.lit(0.0)),
                F.lit(1.0),
            )
        ).alias("avg_confidence")
    )
    annual = (
        F.when(F.col("n_zero_base") > 0, F.lit(None).cast("double"))
        .when(F.col("n_neg_base") % 2 == 1, F.lit(None).cast("double"))
        .otherwise(252.0 / 30.0 * F.col("sum_ln_abs"))
    )
    p = chi2_sf1(F.col("t_stat") * F.col("t_stat"))
    pf_pass = (F.col("gross_loss") == 0) | (
        F.col("gross_profit") / F.nullif(F.col("gross_loss"), F.lit(0.0))
        >= 1.5
    )
    return (
        tstats.join(allconf, "user_id")
        .join(irx, "user_id", "left")
        .join(sigtest, "user_id", "left")
        .select(
            "user_id",
            F.col("n_trades").alias("trades_analyzed"),
            r6(F.col("hit_rate")).alias("hit_rate"),
            r6(
                F.when(
                    F.col("gross_loss") > 0,
                    F.col("gross_profit") / F.col("gross_loss"),
                )
            ).alias("profit_factor"),
            r6(
                F.when(
                    F.col("sd_r") > 0,
                    F.col("mean_r") / F.col("sd_r") * F.sqrt(F.lit(252.0)),
                ).otherwise(F.lit(0.0))
            ).alias("sharpe_ratio"),
            r6(annual).alias("annual_log_return"),
            r6(F.col("avg_confidence")).alias("avg_confidence"),
            r6(F.coalesce(F.col("ic"), F.lit(0.0))).alias(
                "information_coefficient"
            ),
            r6(F.coalesce(F.col("ir"), F.lit(0.0))).alias("information_ratio"),
            r6(F.coalesce(F.col("t_stat"), F.lit(0.0))).alias("t_stat"),
            r6(F.coalesce(p, F.lit(1.0))).alias("p_normal"),
            F.when(F.col("t_stat").isNotNull() & (p < 0.05), 1)
            .otherwise(0)
            .alias("statistically_significant"),
            F.when(
                (F.col("hit_rate") >= 0.55) & pf_pass,
                "APPROVE_FOR_LIVE_TRADING",
            )
            .when(F.col("hit_rate") >= 0.52, "CONTINUE_PAPER_TRADING")
            .otherwise("IMPROVE_SIGNALS")
            .alias("recommendation"),
        )
    )


# ---------------------------------------------------------------------------
# LLM inference-telemetry summary (performance monitor)
# ---------------------------------------------------------------------------

# Reference `ai_llm/performance_monitor.py:40-267`: thresholds `:44-48`
# (30s max time, 5 tok/s min, 5% max error rate; >25% fallback share
# degrades), summary `:164-214`, per-model breakdown `:216-232`, status
# ladder `:234-267`. Same hash-telemetry stream as `llm_model_selection`;
# a call is a fallback event when its fallback draw < 0.1 (stage tagged
# by the draw's quartile, mirroring record_latency_fallback's stages).


@query(
    "llm_performance_summary",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM events
    ),
    tel AS (
      SELECT event_type AS model,
             1.0 + 40.0 * {_LLM_HM.format(tag='mt')}
                 * (0.5 + {_LLM_HU.format(tag='t')}) AS t_inf,
             30.0 * {_LLM_HM.format(tag='mk')}
                 * (0.5 + {_LLM_HU.format(tag='k')}) AS tps,
             {_LLM_HU.format(tag='s')} < 0.95 AS succ,
             {_LLM_HU.format(tag='f')} AS fdraw
      FROM ranked WHERE rd <= {_LLM_TEL_WINDOW}
    ),
    per_model AS (
      SELECT model,
             CAST(COUNT(*) AS BIGINT) AS total_inferences,
             CAST(SUM(CASE WHEN succ THEN 1 ELSE 0 END) AS BIGINT)
               AS successful,
             AVG(CASE WHEN succ THEN 1.0 ELSE 0.0 END) AS success_rate,
             AVG(CASE WHEN succ THEN t_inf END) AS avg_inference_time,
             MEDIAN(CASE WHEN succ THEN t_inf END) AS median_inference_time,
             MAX(CASE WHEN succ THEN t_inf END) AS max_inference_time,
             AVG(CASE WHEN succ THEN tps END) AS avg_tokens_per_second,
             MEDIAN(CASE WHEN succ THEN tps END) AS median_tokens_per_second,
             CAST(SUM(CASE WHEN fdraw < 0.1 THEN 1 ELSE 0 END) AS BIGINT)
               AS fallback_events
      FROM tel GROUP BY model
    )
    SELECT model, total_inferences, successful,
           total_inferences - successful AS failed,
           ROUND(success_rate, 6) AS success_rate,
           ROUND(avg_inference_time, 6) AS avg_inference_time,
           ROUND(median_inference_time, 6) AS median_inference_time,
           ROUND(max_inference_time, 6) AS max_inference_time,
           ROUND(avg_tokens_per_second, 6) AS avg_tokens_per_second,
           ROUND(median_tokens_per_second, 6) AS median_tokens_per_second,
           fallback_events,
           CASE
             WHEN successful = 0 THEN 'CRITICAL'
             WHEN 1.0 - success_rate > 0.05 THEN 'DEGRADED'
             WHEN avg_inference_time > 30.0 THEN 'SLOW'
             WHEN avg_tokens_per_second < 5.0 THEN 'SLOW'
             WHEN CAST(fallback_events AS DOUBLE)
                  / GREATEST(total_inferences, 1) > 0.25 THEN 'DEGRADED'
             ELSE 'HEALTHY' END AS performance_status
    FROM per_model
    """,
)
@shared_small_frame
def llm_performance_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM performance monitor's summary — reference
    `ai_llm/performance_monitor.py:164-267`: per model, total/successful/
    failed counts, success-only mean/median/max inference time and token
    rates (failures excluded exactly as the reference filters them), the
    fallback-event census, and the status ladder in the reference's
    check order: no successes -> CRITICAL, error rate > 5% -> DEGRADED,
    mean time > 30s or mean rate < 5 tok/s -> SLOW, fallback share >
    25% -> DEGRADED, else HEALTHY. The telemetry stream and window are
    shared with `llm_model_selection` (one consistent synthetic call
    ledger); medians are interpolating on both engines. One aggregation
    per model — the monitor never re-reads history."""
    from ..functions.scalars import hash_unit_interval

    ev = load_table(spark, sf_dir, "events")
    wd = Window.partitionBy("event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def hu(tag):
        return hash_unit_interval(F.lit("llm"), F.col("event_id"), F.lit(tag))

    def hm(tag):
        return hash_unit_interval(F.lit("llm"), F.col("event_type"), F.lit(tag))

    tel = (
        ev.withColumn("rd", F.row_number().over(wd))
        .filter(F.col("rd") <= _LLM_TEL_WINDOW)
        .select(
            F.col("event_type").alias("model"),
            (1.0 + 40.0 * hm("mt") * (0.5 + hu("t"))).alias("t_inf"),
            (30.0 * hm("mk") * (0.5 + hu("k"))).alias("tps"),
            (hu("s") < 0.95).alias("succ"),
            hu("f").alias("fdraw"),
        )
    )
    sc = F.col("succ")
    pm = tel.groupBy("model").agg(
        F.count(F.lit(1)).alias("total_inferences"),
        F.sum(sc.cast("long")).alias("successful"),
        F.avg(sc.cast("double")).alias("success_rate"),
        F.avg(F.when(sc, F.col("t_inf"))).alias("avg_inference_time"),
        F.expr("percentile(CASE WHEN succ THEN t_inf END, 0.5D)").alias(
            "median_inference_time"
        ),
        F.max(F.when(sc, F.col("t_inf"))).alias("max_inference_time"),
        F.avg(F.when(sc, F.col("tps"))).alias("avg_tokens_per_second"),
        F.expr("percentile(CASE WHEN succ THEN tps END, 0.5D)").alias(
            "median_tokens_per_second"
        ),
        F.sum((F.col("fdraw") < 0.1).cast("long")).alias("fallback_events"),
    )
    status = (
        F.when(F.col("successful") == 0, "CRITICAL")
        .when(1.0 - F.col("success_rate") > 0.05, "DEGRADED")
        .when(F.col("avg_inference_time") > 30.0, "SLOW")
        .when(F.col("avg_tokens_per_second") < 5.0, "SLOW")
        .when(
            F.col("fallback_events").cast("double")
            / F.greatest(F.col("total_inferences"), F.lit(1).cast("long"))
            > 0.25,
            "DEGRADED",
        )
        .otherwise("HEALTHY")
    )
    return pm.select(
        "model",
        "total_inferences",
        "successful",
        (F.col("total_inferences") - F.col("successful")).alias("failed"),
        r6(F.col("success_rate")).alias("success_rate"),
        r6(F.col("avg_inference_time")).alias("avg_inference_time"),
        r6(F.col("median_inference_time")).alias("median_inference_time"),
        r6(F.col("max_inference_time")).alias("max_inference_time"),
        r6(F.col("avg_tokens_per_second")).alias("avg_tokens_per_second"),
        r6(F.col("median_tokens_per_second")).alias("median_tokens_per_second"),
        "fallback_events",
        status.alias("performance_status"),
    )


@query(
    "signal_routing_stats",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    feat AS (
      SELECT user_id, rn, value,
             AVG(value) OVER w5 AS ma5,
             AVG(value) OVER w20m AS ma20,
             STDDEV_SAMP(lr) OVER w20m AS vol20,
             MAX(rn) OVER (PARTITION BY user_id) AS max_rn
      FROM s
      WINDOW w5 AS (PARTITION BY user_id ORDER BY rn
                    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
             w20m AS (PARTITION BY user_id ORDER BY rn
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    q AS (
      SELECT user_id,
             COUNT(*) FILTER (WHERE value > 0)
               / CAST(COUNT(*) AS DOUBLE) AS quality_score
      FROM events GROUP BY user_id
    ),
    latest AS (
      SELECT f.user_id,
             ROUND(q.quality_score, 6) AS quality_score,
             CASE WHEN f.user_id % 7 = 0 THEN 0 ELSE 1 END AS ts_available,
             CASE WHEN (f.ma5 - f.value) / f.value - 0.002 > 0.01
                   AND ((f.ma5 - f.value) / f.value - 0.002)
                       / NULLIF(f.vol20, 0) > 0.5 THEN 'BUY'
                  WHEN (f.ma5 - f.value) / f.value - 0.002 < -0.01
                   AND (-((f.ma5 - f.value) / f.value - 0.002))
                       / NULLIF(f.vol20, 0) > 0.5 THEN 'SELL'
                  ELSE 'HOLD' END AS ts_action
      FROM feat f JOIN q ON q.user_id = f.user_id
      WHERE f.rn = f.max_rn AND f.rn >= 21
    )
    SELECT
      CAST(SUM(ts_available) AS BIGINT) AS time_series_signals,
      CAST(SUM(CASE WHEN ts_available = 0 OR ts_action = 'HOLD'
                     OR quality_score < {_ROUTE_QUALITY_MIN}
                    THEN 1 ELSE 0 END) AS BIGINT) AS llm_fallback_signals,
      CAST(0 AS BIGINT) AS redundancy_signals,
      CAST(0 AS BIGINT) AS failed_routes,
      CAST(SUM(ts_available)
           + SUM(CASE WHEN ts_available = 0 OR ts_action = 'HOLD'
                       OR quality_score < {_ROUTE_QUALITY_MIN}
                      THEN 1 ELSE 0 END) AS BIGINT) AS total_signals,
      'TIME_SERIES_PRIMARY_LLM_FALLBACK' AS routing_mode
    FROM latest
    """,
)
def signal_routing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The router's fleet statistics — reference `models/signal_router.py:
    405-436` (`get_routing_stats` / `_get_routing_mode`): counts of
    TS-primary and LLM-fallback signal generations across the fleet
    under the default flags (redundancy off -> zero; the engine's
    deterministic generators cannot fail -> failed_routes zero by
    construction), total = sum of the counters, and the routing-mode
    descriptor the flag combination resolves to. One aggregate over the
    same per-key routing frame as `signal_routing_decision`."""
    routed = signal_routing_decision(spark, sf_dir)
    return routed.agg(
        F.sum(F.col("ts_available").cast("long")).alias("time_series_signals"),
        F.sum(F.col("fallback_generated").cast("long")).alias(
            "llm_fallback_signals"
        ),
        F.lit(0).cast("long").alias("redundancy_signals"),
        F.lit(0).cast("long").alias("failed_routes"),
        (
            F.sum(F.col("ts_available").cast("long"))
            + F.sum(F.col("fallback_generated").cast("long"))
        ).alias("total_signals"),
    ).withColumn("routing_mode", F.lit("TIME_SERIES_PRIMARY_LLM_FALLBACK"))


# ---------------------------------------------------------------------------
# Quant-validation fail-rate headroom
# ---------------------------------------------------------------------------

# Reference `scripts/quant_validation_headroom.py:80-139`
# (`summarize_headroom`): FAIL rate over the scoped window of
# quant-validation entries, headroom to the red gate, the
# GREEN/YELLOW/RED status ladder and the per-ticker fail census. The
# engine's validation entry is one per return observation, FAIL when
# the bar moves more than 3% against the prior close (the quant
# validator's price-sanity rejection); the scoped window is the
# corpus's final 7 days (the reference slices the jsonl tail).
_QVH_RED = 25.0
_QVH_WARN = 15.0
_QVH_DROP = 0.03
_QVH_WINDOW_DAYS = 7


@query(
    "quant_validation_headroom",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    mx AS (SELECT MAX(ts) AS max_ts FROM events),
    scoped AS (
      SELECT s.user_id,
             CASE WHEN ABS(s.lr) > {_QVH_DROP} THEN 1 ELSE 0 END AS failed
      FROM s, mx
      WHERE s.lr IS NOT NULL
        AND s.ts >= mx.max_ts - INTERVAL {_QVH_WINDOW_DAYS} DAY
    ),
    per AS (
      SELECT 'T' || CAST(user_id % 25 AS VARCHAR) AS ticker,
             CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(failed) AS BIGINT) AS fail_count
      FROM scoped GROUP BY 1
    ),
    fleet AS (
      SELECT 'ALL' AS ticker,
             CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(failed) AS BIGINT) AS fail_count
      FROM scoped
    ),
    u AS (SELECT * FROM per UNION ALL SELECT * FROM fleet)
    SELECT ticker, total, fail_count,
           ROUND(CAST(fail_count AS DOUBLE) / total * 100.0, 3)
             AS fail_rate_pct,
           ROUND({_QVH_RED} - CAST(fail_count AS DOUBLE) / total * 100.0, 3)
             AS headroom_to_red_gate_pct,
           CASE WHEN CAST(fail_count AS DOUBLE) / total * 100.0
                     >= {_QVH_RED} THEN 'RED'
                WHEN CAST(fail_count AS DOUBLE) / total * 100.0
                     >= {_QVH_WARN} THEN 'YELLOW'
                ELSE 'GREEN' END AS status
    FROM u
    """,
)
def quant_validation_headroom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quant-validation fail-rate headroom — reference
    `scripts/quant_validation_headroom.py:80-139`: FAIL rate over the
    scoped entry window, headroom to the 25% red gate, the
    GREEN/YELLOW/RED ladder (warn at 15%) and the per-ticker fail
    census plus the fleet row. The validation entry is one per return
    observation (FAIL = >3% absolute move, the price-sanity rejection);
    the scope is the corpus's final 7 days via a broadcast max-ts
    scalar — no global tail sort.

    Scale: one filtered pass + two bounded groupBys."""
    s = _series(spark, sf_dir).filter(F.col("lr").isNotNull())
    mx = load_table(spark, sf_dir, "events").agg(
        F.max("ts").alias("max_ts")
    )
    scoped = (
        s.crossJoin(F.broadcast(mx))
        .filter(
            F.col("ts")
            >= F.col("max_ts") - F.expr(f"INTERVAL {_QVH_WINDOW_DAYS} DAY")
        )
        .select(
            "user_id",
            (F.abs(F.col("lr")) > _QVH_DROP).cast("int").alias("failed"),
        )
    )
    per = scoped.groupBy(
        F.concat(F.lit("T"), (F.col("user_id") % 25).cast("string")).alias(
            "ticker"
        )
    ).agg(
        F.count(F.lit(1)).alias("total"),
        F.sum("failed").cast("bigint").alias("fail_count"),
    )
    fleet = scoped.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum("failed").cast("bigint").alias("fail_count"),
    ).select(F.lit("ALL").alias("ticker"), "total", "fail_count")
    u = per.unionByName(fleet)
    rate = F.col("fail_count").cast("double") / F.col("total") * 100.0
    return u.select(
        "ticker",
        "total",
        "fail_count",
        F.round(rate, 3).alias("fail_rate_pct"),
        F.round(F.lit(_QVH_RED) - rate, 3).alias("headroom_to_red_gate_pct"),
        F.when(rate >= _QVH_RED, "RED")
        .when(rate >= _QVH_WARN, "YELLOW")
        .otherwise("GREEN")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Signal-validation backfill (scripts/backfill_signal_validation.py)
# ---------------------------------------------------------------------------

# Reference `scripts/backfill_signal_validation.py:253-333`: replay every
# PENDING signal through the active SignalValidator and persist a status
# transition — `archived` when the market-data window is too thin to
# validate (`:296-305`), `failed` when the verdict is invalid or the
# recommendation is REJECT/HOLD (`:322-326`), `validated` otherwise, with
# validator_version 'v2-backfill' stamped on every replayed record
# (`:331`). Engine mapping: one pending signal per key; "insufficient
# market data" = the series is too short for the validator's market
# context (the R50 frame's n >= 21 floor), so archived keys are exactly
# those the validation frame drops. MONITOR verdicts carry is_valid = 0
# and therefore fail, matching the reference's is_valid-driven branch.
from .queries import ORACLE as _ORACLE_REG


@query("signal_validation_backfill")
@session_frame_cache
def signal_validation_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R140: per-signal backfill status transition — the reference's
    pending → validated / failed / archived ladder over the R50
    validator verdicts, with archived rows carrying NULL verdict fields
    (no validation record is inserted for them, `:296-305`)."""
    v = llm_signal_validation(spark, sf_dir).select(
        "user_id",
        "recommendation",
        "adjusted_confidence",
        (F.col("is_valid") == 1).alias("ok"),
    )
    keys = _series(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bars")
    )
    j = keys.join(v, "user_id", "left")
    return j.select(
        "user_id",
        "n_bars",
        F.lit("pending").alias("prior_status"),
        F.when(F.col("recommendation").isNull(), "archived")
        .when(F.col("ok"), "validated")
        .otherwise("failed")
        .alias("new_status"),
        "recommendation",
        "adjusted_confidence",
        F.when(
            F.col("recommendation").isNotNull(), "v2-backfill"
        ).alias("validator_version"),
    )


_ORACLE_REG["signal_validation_backfill"] = f"""
    WITH s0 AS ({_S_SQL}),
    keys AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_bars
      FROM s0 GROUP BY user_id
    ),
    fin AS ({_ORACLE_REG["llm_signal_validation"]})
    SELECT k.user_id, k.n_bars,
           'pending' AS prior_status,
           CASE WHEN f.recommendation IS NULL THEN 'archived'
                WHEN f.is_valid = 1 THEN 'validated'
                ELSE 'failed' END AS new_status,
           f.recommendation, f.adjusted_confidence,
           CASE WHEN f.recommendation IS NOT NULL
                THEN 'v2-backfill' END AS validator_version
    FROM keys k LEFT JOIN fin f ON f.user_id = k.user_id
"""


@query("signal_backfill_census")
def signal_backfill_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R141: the BackfillStats summary (`backfill_signal_validation.py:
    94-107,386-398`) — processed / validated / failed / archived counts
    (errors are structurally zero in the engine's deterministic replay)
    with status shares."""
    b = signal_validation_backfill(spark, sf_dir)
    g = b.agg(
        F.count(F.lit(1)).cast("long").alias("processed"),
        F.sum((F.col("new_status") == "validated").cast("int"))
        .cast("long")
        .alias("validated"),
        F.sum((F.col("new_status") == "failed").cast("int"))
        .cast("long")
        .alias("failed"),
        F.sum((F.col("new_status") == "archived").cast("int"))
        .cast("long")
        .alias("archived"),
    )
    tot = F.greatest(F.col("processed"), F.lit(1))
    return g.select(
        "processed",
        "validated",
        "failed",
        "archived",
        F.lit(0).cast("long").alias("errors"),
        r6(F.col("validated").cast("double") / tot).alias("validated_share"),
        r6(F.col("failed").cast("double") / tot).alias("failed_share"),
        r6(F.col("archived").cast("double") / tot).alias("archived_share"),
    )


_ORACLE_REG["signal_backfill_census"] = f"""
    WITH s0 AS ({_S_SQL}),
    keys AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_bars
      FROM s0 GROUP BY user_id
    ),
    fin AS ({_ORACLE_REG["llm_signal_validation"]}),
    b AS (
      SELECT k.user_id,
             CASE WHEN f.recommendation IS NULL THEN 'archived'
                  WHEN f.is_valid = 1 THEN 'validated'
                  ELSE 'failed' END AS new_status
      FROM keys k LEFT JOIN fin f ON f.user_id = k.user_id
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS processed,
             CAST(SUM(CASE WHEN new_status = 'validated' THEN 1 ELSE 0 END)
                  AS BIGINT) AS validated,
             CAST(SUM(CASE WHEN new_status = 'failed' THEN 1 ELSE 0 END)
                  AS BIGINT) AS failed,
             CAST(SUM(CASE WHEN new_status = 'archived' THEN 1 ELSE 0 END)
                  AS BIGINT) AS archived
      FROM b
    )
    SELECT processed, validated, failed, archived,
           CAST(0 AS BIGINT) AS errors,
           ROUND(CAST(validated AS DOUBLE) / GREATEST(processed, 1), 6)
             AS validated_share,
           ROUND(CAST(failed AS DOUBLE) / GREATEST(processed, 1), 6)
             AS failed_share,
           ROUND(CAST(archived AS DOUBLE) / GREATEST(processed, 1), 6)
             AS archived_share
    FROM g
"""


# ---------------------------------------------------------------------------
# Comprehensive LLM-system health report (monitor_llm_system.py)
# ---------------------------------------------------------------------------

# Reference `scripts/monitor_llm_system.py` (`LLMSystemMonitor`): the
# comprehensive-monitoring fold over the component checks — per-component
# status rows, `_assess_system_health` (`:658-673`: overall DEGRADED when
# ANY component status is outside {HEALTHY, NO_DATA} — including the
# default-DISABLED ollama client, which the reference therefore always
# reports as an issue) and `_generate_recommendations` (`:674-701`: the
# three rule arms). Component statuses come from the engine's own R50-R52
# frames: performance = worst per-model ladder state mapped onto the
# monitor's FAILED/DEGRADED_LATENCY/HEALTHY vocabulary, signal quality =
# validation census over the 5-layer verdicts, backtests = the per-key
# report census, database integration = core-table readability counts.
_MLS_REC_FAILED = "Investigate LLM inference failures"
_MLS_REC_LATENCY = (
    "Latency above benchmark - review caching/fallback tuning"
)
_MLS_REC_SLOW_INF = (
    "Consider optimizing model selection for faster inference"
)
_MLS_REC_QUALITY = "Review signal generation quality - low validation rate"
_MLS_REC_DB = "Fix database integration issues"


@query("llm_system_health_report")
def llm_system_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R147: one row per monitored component plus the overall fold —
    status, detail, issue flag (status outside HEALTHY/NO_DATA) and the
    monitor's recommendation string where a rule fires."""
    perf = llm_performance_summary(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_models"),
        F.sum((F.col("performance_status") == "CRITICAL").cast("int")).alias(
            "n_crit"
        ),
        F.sum((F.col("performance_status") == "DEGRADED").cast("int")).alias(
            "n_degr"
        ),
        F.max("avg_inference_time").alias("max_avg_t"),
    )
    p_status = (
        F.when(F.col("n_crit") > 0, "FAILED")
        .when(F.col("n_degr") > 0, "DEGRADED_LATENCY")
        .otherwise("HEALTHY")
    )
    perf_row = perf.select(
        F.lit("llm_performance").alias("component"),
        p_status.alias("status"),
        F.concat(F.lit("models_checked="), F.col("n_models").cast("string"))
        .alias("detail"),
        F.when(F.col("n_crit") > 0, _MLS_REC_FAILED)
        .when(F.col("n_degr") > 0, _MLS_REC_LATENCY)
        .when(F.col("max_avg_t") > 30.0, _MLS_REC_SLOW_INF)
        .alias("recommendation"),
    )
    val = llm_signal_validation(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("analyzed"),
        F.sum("is_valid").cast("long").alias("valid"),
        F.avg("adjusted_confidence").alias("avg_conf"),
    )
    rate = F.col("valid").cast("double") / F.greatest(
        F.col("analyzed"), F.lit(1)
    )
    val_row = val.select(
        F.lit("signal_quality").alias("component"),
        F.when(F.col("analyzed") > 0, "HEALTHY")
        .otherwise("PENDING_INPUT")
        .alias("status"),
        F.concat(
            F.lit("validation_rate="),
            F.round(rate, 6).cast("string"),
            F.lit(" avg_confidence="),
            F.round(F.col("avg_conf"), 6).cast("string"),
        ).alias("detail"),
        F.when(rate < 0.8, _MLS_REC_QUALITY).alias("recommendation"),
    )
    bt = signal_backtest_report(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("trades_analyzed").cast("long").alias("n_trades"),
    )
    bt_row = bt.select(
        F.lit("signal_backtests").alias("component"),
        F.when(F.col("n_keys") > 0, "HEALTHY")
        .otherwise("NO_DATA")
        .alias("status"),
        F.concat(
            F.lit("tickers="),
            F.col("n_keys").cast("string"),
            F.lit(" trades="),
            F.col("n_trades").cast("string"),
        ).alias("detail"),
        F.lit(None).cast("string").alias("recommendation"),
    )
    # table counts folded into the distributed plan (optimization round
    # 12, guide §5 "the driver should do almost no data work"): the old
    # driver-side .count() pair ran two Spark jobs at DAG-construction
    # time; the same exact counts now ride the single timed action
    cnt = (
        load_table(spark, sf_dir, "events")
        .agg(F.count(F.lit(1)).cast("long").alias("ev_n"))
        .crossJoin(
            F.broadcast(
                load_table(spark, sf_dir, "orders").agg(
                    F.count(F.lit(1)).cast("long").alias("ord_n")
                )
            )
        )
    )
    db_ok = (F.col("ev_n") > 0) & (F.col("ord_n") > 0)
    db_int_row = cnt.select(
        F.lit("database_integration").alias("component"),
        F.when(db_ok, "HEALTHY").otherwise("FAILED").alias("status"),
        F.concat(
            F.lit("events="),
            F.col("ev_n").cast("string"),
            F.lit(" orders="),
            F.col("ord_n").cast("string"),
        ).alias("detail"),
        F.when(~db_ok, _MLS_REC_DB).alias("recommendation"),
    )
    ollama_row = spark.createDataFrame(
        [
            (
                "ollama_client",
                "DISABLED",
                "ollama integration disabled by default",
                None,
            ),
        ],
        "component string, status string, detail string, recommendation string",
    )
    comps = (
        perf_row.unionByName(val_row)
        .unionByName(bt_row)
        .unionByName(db_int_row)
        .unionByName(ollama_row)
    )
    issue = ~F.col("status").isin("HEALTHY", "NO_DATA")
    # ≤5 rows feeding BOTH the output union and the overall fold: one
    # materialization instead of two executions of the whole component
    # pipeline (guide §2.4)
    comps2 = comps.select("*", issue.alias("issue")).localCheckpoint(
        eager=False
    )
    overall = comps2.agg(
        F.count(F.lit(1)).cast("long").alias("n_comp"),
        F.sum(F.col("issue").cast("int")).cast("long").alias("n_issues"),
    ).select(
        F.lit("overall").alias("component"),
        F.when(F.col("n_issues") > 0, "DEGRADED")
        .otherwise("HEALTHY")
        .alias("status"),
        F.concat(
            F.lit("components_checked="),
            F.col("n_comp").cast("string"),
            F.lit(" issues="),
            F.col("n_issues").cast("string"),
        ).alias("detail"),
        F.lit(None).cast("string").alias("recommendation"),
        (F.col("n_issues") > 0).alias("issue"),
    )
    return comps2.unionByName(overall)


_ORACLE_REG["llm_system_health_report"] = f"""
    WITH pf AS ({_ORACLE_REG["llm_performance_summary"]}),
    pfa AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_models,
             SUM(CASE WHEN performance_status = 'CRITICAL'
                      THEN 1 ELSE 0 END) AS n_crit,
             SUM(CASE WHEN performance_status = 'DEGRADED'
                      THEN 1 ELSE 0 END) AS n_degr,
             MAX(avg_inference_time) AS max_avg_t
      FROM pf
    ),
    vl AS ({_ORACLE_REG["llm_signal_validation"]}),
    vla AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS analyzed,
             CAST(SUM(is_valid) AS BIGINT) AS valid,
             AVG(adjusted_confidence) AS avg_conf
      FROM vl
    ),
    bt AS ({_ORACLE_REG["signal_backtest_report"]}),
    bta AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(trades_analyzed) AS BIGINT) AS n_trades
      FROM bt
    ),
    dbi AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS ev_n,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS ord_n
    ),
    comps AS (
      SELECT 'llm_performance' AS component,
             CASE WHEN n_crit > 0 THEN 'FAILED'
                  WHEN n_degr > 0 THEN 'DEGRADED_LATENCY'
                  ELSE 'HEALTHY' END AS status,
             'models_checked=' || CAST(n_models AS VARCHAR) AS detail,
             CASE WHEN n_crit > 0 THEN '{_MLS_REC_FAILED}'
                  WHEN n_degr > 0 THEN '{_MLS_REC_LATENCY}'
                  WHEN max_avg_t > 30.0 THEN '{_MLS_REC_SLOW_INF}'
                  END AS recommendation
      FROM pfa
      UNION ALL
      SELECT 'signal_quality',
             CASE WHEN analyzed > 0 THEN 'HEALTHY'
                  ELSE 'PENDING_INPUT' END,
             'validation_rate='
               || CAST(ROUND(CAST(valid AS DOUBLE)
                             / GREATEST(analyzed, 1), 6) AS VARCHAR)
               || ' avg_confidence='
               || CAST(ROUND(avg_conf, 6) AS VARCHAR),
             CASE WHEN CAST(valid AS DOUBLE) / GREATEST(analyzed, 1) < 0.8
                  THEN '{_MLS_REC_QUALITY}' END
      FROM vla
      UNION ALL
      SELECT 'signal_backtests',
             CASE WHEN n_keys > 0 THEN 'HEALTHY' ELSE 'NO_DATA' END,
             'tickers=' || CAST(n_keys AS VARCHAR)
               || ' trades=' || CAST(n_trades AS VARCHAR),
             NULL
      FROM bta
      UNION ALL
      SELECT 'database_integration',
             CASE WHEN ev_n > 0 AND ord_n > 0 THEN 'HEALTHY'
                  ELSE 'FAILED' END,
             'events=' || CAST(ev_n AS VARCHAR)
               || ' orders=' || CAST(ord_n AS VARCHAR),
             CASE WHEN ev_n > 0 AND ord_n > 0 THEN NULL
                  ELSE '{_MLS_REC_DB}' END
      FROM dbi
      UNION ALL
      SELECT 'ollama_client', 'DISABLED',
             'ollama integration disabled by default', NULL
    ),
    comps2 AS (
      SELECT *, status NOT IN ('HEALTHY', 'NO_DATA') AS issue FROM comps
    )
    SELECT component, status, detail, recommendation, issue FROM comps2
    UNION ALL
    SELECT 'overall',
           CASE WHEN SUM(CASE WHEN issue THEN 1 ELSE 0 END) > 0
                THEN 'DEGRADED' ELSE 'HEALTHY' END,
           'components_checked=' || CAST(COUNT(*) AS VARCHAR)
             || ' issues='
             || CAST(SUM(CASE WHEN issue THEN 1 ELSE 0 END) AS VARCHAR),
           NULL,
           SUM(CASE WHEN issue THEN 1 ELSE 0 END) > 0
    FROM comps2
"""
