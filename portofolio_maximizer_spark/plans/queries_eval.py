"""Query pack 6 — model-evaluation machinery (CV folds, walk-forward
metrics, Shapley attribution).

Covers F8 (walk-forward evaluation), F9 (time-series CV fold builder) and
F12 (exact power-set Shapley attribution) from SURVEY.md §2.10 — the three
evaluation operators that are pure relational algebra in the new engine
(the reference loops in Python; `forcester_ts/walk_forward_learner.py`,
`etl/time_series_cv.py`, `forcester_ts/shapley_attribution.py`).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .queries import ORACLE, literal_grid, query, r6, session_frame_cache, shared_small_frame
from .queries_stats import _S_SQL, _baseline_forecasts, _series, _w
from .queries_trades import _closed_trades, _trade_legs


# ---------------------------------------------------------------------------
# F9 — time-series CV fold boundaries (expanding-origin)
# ---------------------------------------------------------------------------


@query(
    "cv_fold_bounds",
    oracle="""
    WITH d AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS dt FROM orders
    ),
    folds AS (
      SELECT dt, NTILE(5) OVER (ORDER BY dt) AS fold FROM d
    ),
    b AS (
      SELECT fold, COUNT(*) AS n_dates,
             CAST(MIN(dt) AS VARCHAR) AS test_start,
             CAST(MAX(dt) AS VARCHAR) AS test_end
      FROM folds GROUP BY fold
    )
    SELECT fold, n_dates, test_start, test_end,
           LAG(test_end) OVER (ORDER BY fold) AS train_end
    FROM b
    """,
)
def cv_fold_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 expanding time-series CV splitter: distinct dates → 5 ntile
    folds → per-fold boundaries, train window = everything before the
    fold — reference `etl/time_series_cv.py:90-170` and
    `etl/data_storage.py:179-301` (k-fold on unique dates, leak-free
    boundaries). The distinct-date set is tiny at any scale, so fold
    assignment is a near-free single-partition window."""
    o = load_table(spark, sf_dir, "orders")
    d = o.select(F.to_date("o_orderdate").alias("cal_date")).distinct()
    folds = d.select("cal_date", F.ntile(5).over(Window.orderBy("cal_date")).alias("fold"))
    b = folds.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_dates"),
        F.min("cal_date").cast("string").alias("test_start"),
        F.max("cal_date").cast("string").alias("test_end"),
    )
    return b.select(
        "fold",
        "n_dates",
        "test_start",
        "test_end",
        F.lag("test_end").over(Window.orderBy("fold")).alias("train_end"),
    )


# ---------------------------------------------------------------------------
# F8 — walk-forward evaluation of a rolling-origin forecaster
# ---------------------------------------------------------------------------


@query(
    "walkforward_eval",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value,
             LAG(value, 1) OVER (PARTITION BY user_id ORDER BY rn) AS fcast,
             NTILE(5) OVER (PARTITION BY user_id ORDER BY rn) AS fold
      FROM s
    )
    SELECT user_id, fold, COUNT(*) AS n,
           ROUND(SQRT(AVG(POWER(value - fcast, 2))), 6) AS rmse,
           ROUND(AVG(2 * ABS(value - fcast)
                     / (ABS(value) + ABS(fcast))), 6) AS smape
    FROM f WHERE fcast IS NOT NULL
    GROUP BY user_id, fold
    """,
)
def walkforward_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 walk-forward evaluation: rolling-origin folds with per-fold
    RMSE/sMAPE of a naive lag-1 forecaster — reference
    `forcester_ts/walk_forward_learner.py:117-390` (`_aggregate`) +
    `forcester_ts/metrics.py:18-36` (J4 inner-align is the lag join).
    One window pass assigns folds and forecasts; one groupBy aggregates —
    two shuffles total, both on user_id."""
    s = _series(spark, sf_dir)
    wp = _w()
    f = s.select(
        "user_id",
        "rn",
        "value",
        F.lag("value", 1).over(wp).alias("fcast"),
        F.ntile(5).over(wp).alias("fold"),
    ).filter(F.col("fcast").isNotNull())
    err = F.col("value") - F.col("fcast")
    return f.groupBy("user_id", "fold").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.sqrt(F.avg(F.pow(err, 2)))).alias("rmse"),
        r6(
            F.avg(2 * F.abs(err) / (F.abs(F.col("value")) + F.abs(F.col("fcast"))))
        ).alias("smape"),
    )


# ---------------------------------------------------------------------------
# F12 — exact Shapley attribution over the model power set
# ---------------------------------------------------------------------------

_MODELS = ("naive", "ma3", "ma10")
# 3-player Shapley weights by coalition size s (s!(n-s-1)!/n!): {0:1/3, 1:1/6, 2:1/3}
_WEIGHTS = {0: 1.0 / 3.0, 1: 1.0 / 6.0, 2: 1.0 / 3.0}


def _coalitions():
    out = []
    for r in range(len(_MODELS) + 1):
        out.extend(combinations(_MODELS, r))
    return out


def _mse_name(coal: tuple[str, ...]) -> str:
    return "v_" + ("_".join(coal) if coal else "empty")


def _shapley_expr(model: str, col) -> "F.Column":
    """φ_m = Σ_{S ⊄ m} w(|S|) · [v(S ∪ m) − v(S)] with v = MSE."""
    others = [m for m in _MODELS if m != model]
    expr = F.lit(0.0)
    for r in range(len(others) + 1):
        for s in combinations(others, r):
            with_m = tuple(sorted(s + (model,), key=_MODELS.index))
            expr = expr + F.lit(_WEIGHTS[r]) * (
                col(_mse_name(with_m)) - col(_mse_name(s))
            )
    return expr


def _duck_shapley(model: str) -> str:
    others = [m for m in _MODELS if m != model]
    parts = []
    for r in range(len(others) + 1):
        for s in combinations(others, r):
            with_m = "_".join(sorted(s + (model,), key=_MODELS.index))
            base = "_".join(s) if s else "empty"
            parts.append(f"{_WEIGHTS[r]!r} * (v_{with_m} - v_{base})")
    return " + ".join(parts)


_COAL_SQL = []
for _c in _coalitions():
    if _c:
        _blend = "(" + " + ".join(f"f_{m}" for m in _c) + f") / {len(_c)}.0"
    else:
        _blend = "mu"
    _COAL_SQL.append(f"AVG(POWER(value - ({_blend}), 2)) AS {_mse_name(_c)}")


@query(
    "shapley_attribution",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value,
             LAG(value, 1) OVER wp AS f_naive,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS f_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS f_ma10,
             AVG(value) OVER (PARTITION BY user_id) AS mu
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
      QUALIFY rn >= 11
    ),
    v AS (
      SELECT user_id, COUNT(*) AS n, {", ".join(_COAL_SQL)}
      FROM f GROUP BY user_id HAVING COUNT(*) > 10
    )
    SELECT user_id, n,
           ROUND(v_naive_ma3_ma10, 6) AS v_full,
           ROUND(v_empty, 6) AS v_empty,
           ROUND({_duck_shapley("naive")}, 6) AS phi_naive,
           ROUND({_duck_shapley("ma3")}, 6) AS phi_ma3,
           ROUND({_duck_shapley("ma10")}, 6) AS phi_ma10
    FROM v
    """,
)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 exact power-set Shapley decomposition of ensemble loss across 3
    forecasters (naive lag-1, trailing MA3, trailing MA10; coalition =
    equal-weight blend, v = MSE, v(∅) = full-sample-mean forecast) —
    reference `forcester_ts/shapley_attribution.py:37-232` (2^N marginal
    loss decomposition, N=4 there).

    All 8 coalition losses are columns of ONE groupBy pass (8 conditional
    aggregates, not 8 scans); the Shapley weights are a closed-form
    expression over those columns. Additivity (Σφ = v(full) − v(∅)) is
    checked in tests."""
    s = _series(spark, sf_dir)
    wp = _w()
    f = s.select(
        "user_id",
        "rn",
        "value",
        F.lag("value", 1).over(wp).alias("f_naive"),
        F.avg("value").over(_w((-3, -1))).alias("f_ma3"),
        F.avg("value").over(_w((-10, -1))).alias("f_ma10"),
        F.avg("value").over(Window.partitionBy("user_id")).alias("mu"),
    ).filter(F.col("rn") >= 11)

    def blend(coal: tuple[str, ...]):
        if not coal:
            return F.col("mu")
        total = sum((F.col(f"f_{m}") for m in coal), start=F.lit(0.0))
        return total / F.lit(float(len(coal)))

    aggs = [
        F.avg(F.pow(F.col("value") - blend(c), 2)).alias(_mse_name(c))
        for c in _coalitions()
    ]
    v = (
        f.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
        .filter(F.col("n") > 10)
    )
    return v.select(
        "user_id",
        "n",
        r6(F.col("v_naive_ma3_ma10")).alias("v_full"),
        r6(F.col("v_empty")).alias("v_empty"),
        r6(_shapley_expr("naive", F.col)).alias("phi_naive"),
        r6(_shapley_expr("ma3", F.col)).alias("phi_ma3"),
        r6(_shapley_expr("ma10", F.col)).alias("phi_ma10"),
    )


# ---------------------------------------------------------------------------
# A13 (part 2) — pairwise rank order-preservation across folds
# ---------------------------------------------------------------------------


@query(
    "rank_preservation_fraction",
    oracle="""
    WITH halves AS (
      SELECT user_id, event_type, value,
             CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                    <= COUNT(*) OVER (PARTITION BY user_id) / 2
                  THEN 0 ELSE 1 END AS fold
      FROM events
    ),
    scored AS (
      SELECT user_id, fold, event_type, AVG(value) AS score
      FROM halves GROUP BY user_id, fold, event_type
    ),
    ranked AS (
      SELECT user_id, fold, event_type,
             RANK() OVER (PARTITION BY user_id, fold
                          ORDER BY score DESC, event_type) AS rnk
      FROM scored
    ),
    pairs AS (
      SELECT a.user_id,
             CASE WHEN (a0.rnk < b0.rnk) = (a1.rnk < b1.rnk)
                  THEN 1.0 ELSE 0.0 END AS preserved
      FROM (SELECT DISTINCT user_id, event_type FROM ranked) a
      JOIN (SELECT DISTINCT user_id, event_type FROM ranked) b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      JOIN ranked a0 ON a0.user_id = a.user_id
        AND a0.event_type = a.event_type AND a0.fold = 0
      JOIN ranked b0 ON b0.user_id = a.user_id
        AND b0.event_type = b.event_type AND b0.fold = 0
      JOIN ranked a1 ON a1.user_id = a.user_id
        AND a1.event_type = a.event_type AND a1.fold = 1
      JOIN ranked b1 ON b1.user_id = a.user_id
        AND b1.event_type = b.event_type AND b1.fold = 1
    )
    SELECT user_id, COUNT(*) AS n_pairs,
           ROUND(AVG(preserved), 6) AS preservation_frac
    FROM pairs GROUP BY user_id
    """,
)
def rank_preservation_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 part 2: the pairwise order-preservation fraction between fold
    ranks — reference `etl/statistical_tests.py:112-171` (per-fold model
    ranks, then the fraction of model pairs whose order survives across
    folds). Built by pivoting the per-fold ranks into a pair self-join."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    halves = ev.select(
        "user_id",
        "event_type",
        "value",
        F.when(
            F.row_number().over(wu)
            <= F.count(F.lit(1)).over(Window.partitionBy("user_id")) / 2,
            0,
        )
        .otherwise(1)
        .alias("fold"),
    )
    scored = halves.groupBy("user_id", "fold", "event_type").agg(
        F.avg("value").alias("score")
    )
    ranked = scored.select(
        "user_id",
        "fold",
        "event_type",
        F.rank()
        .over(
            Window.partitionBy("user_id", "fold").orderBy(
                F.desc("score"), "event_type"
            )
        )
        .alias("rnk"),
    )
    # Pivot the two folds wide BEFORE pairing (optimization round 13,
    # guide §2.4): the previous 4-way self-join of `ranked` re-executed
    # the whole events->window->agg->rank pipeline once per join leg
    # (14 Exchanges, 4 full passes of the events table). One pivot
    # aggregate rides the rank window's (user_id, fold) partitioning, and
    # a single self-join of the (user_id, event_type)-grain wide frame
    # produces the identical pairs: the old inner joins kept exactly the
    # types ranked in BOTH folds, which is the r0/r1 not-null filter here.
    wide = (
        ranked.groupBy("user_id", "event_type")
        .agg(
            F.max(F.when(F.col("fold") == 0, F.col("rnk"))).alias("r0"),
            F.max(F.when(F.col("fold") == 1, F.col("rnk"))).alias("r1"),
        )
        .filter(F.col("r0").isNotNull() & F.col("r1").isNotNull())
    )
    a, b = wide.alias("a"), wide.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.when(
            (F.col("a.r0") < F.col("b.r0")) == (F.col("a.r1") < F.col("b.r1")),
            1.0,
        )
        .otherwise(0.0)
        .alias("preserved"),
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        r6(F.avg("preserved")).alias("preservation_frac"),
    )


def _wf_refit_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged per-(key, fold) walk-forward refits, metrics and betas
    at full precision: the one builder of the ``wf_refit_params``
    artifact. The refits run once per (code version, dataset) behind the
    stage cache."""
    from ..forecast import walkforward_refit
    from .queries import stage_cached
    from .queries_stats import _series

    return stage_cached(
        spark,
        sf_dir,
        "wf_refit_params",
        lambda: walkforward_refit(
            _series(spark, sf_dir).select("user_id", "rn", "value")
        ),
    )


@query("walkforward_refit_eval")
def walkforward_refit_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8+F1 walk-forward with refit-per-fold: (key, fold) fan-out, AR
    grid refit on each expanding train window, frozen-coefficient
    1-step-ahead scoring over the fold, skill vs naive — reference
    `forcester_ts/walk_forward_learner.py:117-390` (refit per fold).

    Staged-verification oracle: the per-fold winning coefficients are
    STAGED; the oracle rebuilds the ntile folds, recomputes the train
    AIC from the staged betas with the kernel's exact formulas, replays
    the frozen-coefficient 1-step-ahead scoring over each fold via lag
    algebra, and re-derives both RMSEs and the skill — the per-fold OLS
    solve itself stays pinned by the AR-recovery property tests."""
    # the full frame (metrics + betas) is staged, the query projects the
    # metrics, the oracle reads the betas
    return _wf_refit_params(spark, sf_dir).drop("beta0", "beta1", "beta2")


from .queries_stats import _S_SQL as _WF_S_SQL

ORACLE["walkforward_refit_eval"] = f"""
    WITH s AS ({_WF_S_SQL}),
    tagged AS (
      SELECT user_id, value AS x, rn,
             NTILE(5) OVER (PARTITION BY user_id ORDER BY rn) AS fold,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS pos
      FROM s
    ),
    lagged AS (
      SELECT *,
             COALESCE(LAG(x, 1) OVER wp, 0.0) AS x1,
             COALESCE(LAG(x, 2) OVER wp, 0.0) AS x2
      FROM tagged
      WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    g AS (
      SELECT user_id, fold AS eval_fold, best_order AS p,
             beta0, beta1, beta2
      FROM read_parquet(
        '__ORACLE_STAGE__/wf_refit_params/*.parquet')
    ),
    train_res AS (
      SELECT g.user_id, g.eval_fold, g.p,
             COUNT(*) AS n_train,
             SUM(CASE WHEN l.pos > g.p
                 THEN POWER(l.x - (g.beta0 + ((g.beta1 * l.x1)
                                              + g.beta2 * l.x2)), 2)
                 END) AS rss
      FROM lagged l
      JOIN g ON g.user_id = l.user_id AND l.fold < g.eval_fold
      GROUP BY 1, 2, 3
    ),
    fitstat AS (
      SELECT user_id, eval_fold, p, n_train,
             (n_train - p) * LN(GREATEST(rss / (n_train - p), 1e-300))
               + 2 * (p + 1) AS aic
      FROM train_res
    ),
    test_sc AS (
      SELECT g.user_id, g.eval_fold,
             COUNT(*) AS n_test,
             SQRT(AVG(POWER(l.x - (g.beta0 + ((g.beta1 * l.x1)
                                              + g.beta2 * l.x2)), 2)))
               AS rmse,
             SQRT(AVG(POWER(l.x - l.x1, 2))) AS rmse_naive
      FROM lagged l
      JOIN g ON g.user_id = l.user_id AND l.fold = g.eval_fold
      GROUP BY 1, 2
    )
    SELECT f.user_id, f.eval_fold AS fold,
           CAST(f.n_train AS INTEGER) AS n_train,
           CAST(t.n_test AS INTEGER) AS n_test,
           f.p AS best_order,
           ROUND(f.aic, 6) AS aic,
           ROUND(t.rmse, 6) AS rmse,
           ROUND(t.rmse_naive, 6) AS rmse_naive,
           ROUND(CASE WHEN t.rmse_naive > 0
                 THEN 1.0 - t.rmse / t.rmse_naive ELSE 0.0 END, 6) AS skill
    FROM fitstat f
    JOIN test_sc t ON t.user_id = f.user_id AND t.eval_fold = f.eval_fold
    WHERE f.n_train >= 10 AND t.n_test >= 2
"""


# ---------------------------------------------------------------------------
# F12 at scale — permutation-sampled Shapley over 5 forecasters
# ---------------------------------------------------------------------------

_M5 = ("naive", "lag2", "ma3", "ma5", "ma10")
# Fixed permutation sample (seeded, deterministic): the scale path when
# 2^N coalition columns stop fitting one aggregation pass. 12 of 120
# permutations; each contributes one telescoping marginal chain.
import random as _random

_rng = _random.Random(42)
_PERMS = []
for _ in range(12):
    p = list(_M5)
    _rng.shuffle(p)
    _PERMS.append(tuple(p))


def _canon(subset) -> tuple[str, ...]:
    return tuple(sorted(subset, key=_M5.index))


def _prefix_subsets() -> list[tuple[str, ...]]:
    seen = {(), _canon(_M5)}
    for perm in _PERMS:
        for i in range(1, len(perm)):
            seen.add(_canon(perm[:i]))
    return sorted(seen, key=lambda s: (len(s), s))


def _mse5_name(coal) -> str:
    return "v5_" + ("_".join(_canon(coal)) if coal else "empty")


def _phi5_terms(model: str) -> list[tuple[str, str]]:
    """(with, without) MSE column-name pairs, one per sampled permutation."""
    out = []
    for perm in _PERMS:
        i = perm.index(model)
        before = _canon(perm[:i])
        out.append((_mse5_name(before + (model,)), _mse5_name(before)))
    return out


def _duck_phi5(model: str) -> str:
    terms = " + ".join(f"({w} - {wo})" for w, wo in _phi5_terms(model))
    return f"({terms}) / {float(len(_PERMS))}"


_F5_SQL = """
      SELECT user_id, rn, value,
             LAG(value, 1) OVER wp AS f_naive,
             LAG(value, 2) OVER wp AS f_lag2,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS f_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS f_ma5,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING) AS f_ma10,
             AVG(value) OVER (PARTITION BY user_id) AS mu
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
      QUALIFY rn >= 11
"""


def _duck_blend5(coal) -> str:
    if not coal:
        return "mu"
    num = " + ".join(f"f_{m}" for m in coal)
    return f"(({num}) / {float(len(coal))})"


@query(
    "shapley_sampled_5model",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    f AS ({_F5_SQL}),
    v AS (
      SELECT user_id, COUNT(*) AS n,
             {", ".join(f"AVG(POW(value - {_duck_blend5(c)}, 2)) AS {_mse5_name(c)}" for c in _prefix_subsets())}
      FROM f GROUP BY user_id HAVING COUNT(*) > 10
    )
    SELECT user_id, n,
           ROUND({_mse5_name(_M5)}, 6) AS v_full,
           ROUND(v5_empty, 6) AS v_empty,
           {", ".join(f"ROUND({_duck_phi5(m)}, 6) AS phi_{m}" for m in _M5)}
    FROM v
    """,
)
def shapley_sampled_5model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 scale path: permutation-SAMPLED Shapley over 5 forecasters —
    reference `forcester_ts/shapley_attribution.py:37-232` computes the
    exact 2^N decomposition; at N models where 2^N coalition aggregates
    stop fitting one pass, the estimator averages marginal contributions
    over a fixed seeded permutation sample (12 of 120 here). Only the
    prefix subsets the sample visits are materialized (~40 conditional
    aggregates instead of 32 — the gap widens exponentially with N).
    Additivity Σφ = v(full) − v(∅) still holds EXACTLY (each permutation
    chain telescopes) — pytest-asserted. Deterministic: the sample is a
    module literal, replayed verbatim in the oracle."""
    s = _series(spark, sf_dir)
    wp = _w()
    f = s.select(
        "user_id",
        "rn",
        "value",
        F.lag("value", 1).over(wp).alias("f_naive"),
        F.lag("value", 2).over(wp).alias("f_lag2"),
        F.avg("value").over(_w((-3, -1))).alias("f_ma3"),
        F.avg("value").over(_w((-5, -1))).alias("f_ma5"),
        F.avg("value").over(_w((-10, -1))).alias("f_ma10"),
        F.avg("value").over(Window.partitionBy("user_id")).alias("mu"),
    ).filter(F.col("rn") >= 11)

    def blend(coal):
        if not coal:
            return F.col("mu")
        total = sum((F.col(f"f_{m}") for m in coal), start=F.lit(0.0))
        return total / F.lit(float(len(coal)))

    aggs = [
        F.avg(F.pow(F.col("value") - blend(c), 2)).alias(_mse5_name(c))
        for c in _prefix_subsets()
    ]
    v = (
        f.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
        .filter(F.col("n") > 10)
    )

    def phi(model: str):
        total = F.lit(0.0)
        for w_col, wo_col in _phi5_terms(model):
            total = total + (F.col(w_col) - F.col(wo_col))
        return total / F.lit(float(len(_PERMS)))

    return v.select(
        "user_id",
        "n",
        r6(F.col(_mse5_name(_M5))).alias("v_full"),
        r6(F.col("v5_empty")).alias("v_empty"),
        *[r6(phi(m)).alias(f"phi_{m}") for m in _M5],
    )


# ---------------------------------------------------------------------------
# Blocked walk-forward validation harness (analysis/time_series_validation)
# ---------------------------------------------------------------------------

_BCV_PF_CAP = 999999.0


@query(
    "blocked_cv_validation",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    base AS (
      SELECT user_id, rn, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS seq,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM s
    ),
    bounds AS (
      SELECT DISTINCT user_id, n,
             (n // 3) + CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END AS b1,
             2 * (n // 3) + CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END
               + CASE WHEN n % 3 >= 2 THEN 1 ELSE 0 END AS b2
      FROM base
    ),
    folds AS (
      SELECT b.user_id, f.fold,
             CASE f.fold WHEN 1 THEN b.b1 ELSE b.b2 END AS train_end,
             CASE f.fold WHEN 1 THEN b.b2 ELSE b.n END AS test_end
      FROM bounds b CROSS JOIN (SELECT UNNEST(RANGE(1, 3)) AS fold) f
      WHERE CASE f.fold WHEN 1 THEN b.b1 ELSE b.b2 END >= 10
        AND CASE f.fold WHEN 1 THEN b.b2 ELSE b.n END
            > CASE f.fold WHEN 1 THEN b.b1 ELSE b.b2 END
    ),
    preds AS (
      SELECT f.user_id, f.fold, f.train_end, f.test_end, m.model,
             CASE m.model WHEN 'naive' THEN lt.value ELSE ma.ma5 END AS pred,
             lt.value AS last_train
      FROM folds f
      CROSS JOIN (SELECT UNNEST(['naive', 'ma5']) AS model) m
      JOIN base lt ON lt.user_id = f.user_id AND lt.seq = f.train_end
      JOIN (SELECT user_id, seq, AVG(value) OVER (
              PARTITION BY user_id ORDER BY seq
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma5
            FROM base) ma
        ON ma.user_id = f.user_id AND ma.seq = f.train_end
    ),
    test AS (
      SELECT p.user_id, p.fold, p.model, p.pred, p.last_train,
             b.seq, b.value,
             LEAD(b.value) OVER (PARTITION BY p.user_id, p.fold, p.model
                                 ORDER BY b.seq) AS nxt,
             p.test_end
      FROM preds p
      JOIN base b ON b.user_id = p.user_id
                 AND b.seq > p.train_end AND b.seq <= p.test_end
    ),
    per_fold AS (
      SELECT user_id, fold, model,
             AVG(ABS(value - pred)) AS mae,
             SQRT(AVG(POWER(value - pred, 2))) AS rmse,
             COALESCE(SUM(CASE WHEN nxt IS NOT NULL THEN
               SIGN(pred - last_train) * (value - nxt) END), 0.0) AS profit
      FROM test GROUP BY user_id, fold, model
    )
    SELECT user_id, model,
           ROUND(CASE
             WHEN SUM(CASE WHEN profit < 0 THEN -profit ELSE 0 END) > 0
               THEN LEAST(SUM(CASE WHEN profit > 0 THEN profit ELSE 0 END)
                    / SUM(CASE WHEN profit < 0 THEN -profit ELSE 0 END),
                    {_BCV_PF_CAP})
             WHEN SUM(CASE WHEN profit > 0 THEN profit ELSE 0 END) > 0
               THEN {_BCV_PF_CAP}
             ELSE 0.0 END, 6) AS profit_factor,
           ROUND(LEAST(MIN(profit), 0.0), 6) AS max_drawdown,
           ROUND(AVG(CASE WHEN profit > 0 THEN 1.0 ELSE 0.0 END), 6)
             AS hit_rate,
           ROUND(AVG(mae), 6) AS mae,
           ROUND(AVG(rmse), 6) AS rmse,
           ROUND(AVG(profit), 6) AS mean_profit,
           CAST(COUNT(*) AS BIGINT) AS n_folds
    FROM per_fold
    GROUP BY user_id, model
    """,
)
def blocked_cv_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's lightweight validation harness — reference
    `analysis/time_series_validation.py:25-113` (`TimeSeriesValidation`):
    blocked 3-way split per key (numpy array_split size semantics — the
    first n%3 blocks get the extra row), expanding walk-forward over the
    later blocks with a >=10-row train guard, constant-forecast models
    (the harness's naive fallback `:84` plus the trailing-MA5 forecaster),
    per-fold MAE/RMSE and the signed directional PROFIT metric `:61`,
    rolled up to the report metrics `:88-106`: profit factor (infinite
    capped), max drawdown = most-negative fold profit floored at 0, hit
    rate, mean RMSE, and the Diebold-Mariano stand-in mean profit.

    Naive's profit is identically zero (its prediction IS the last train
    value, so the sign term vanishes) — the harness reports it as the
    degenerate baseline, exactly as the reference's fallback would.

    Plan: fold bounds from one per-key aggregate; predictions from two
    keyed equi-joins at the boundary row; per-fold and per-model rollups
    are ordinary grouped aggregates — no per-key iteration anywhere."""
    from pyspark.sql import Window as W

    s = _series(spark, sf_dir).select("user_id", "rn", "value")
    wkey = W.partitionBy("user_id")
    base = s.select(
        "user_id",
        "value",
        F.row_number().over(wkey.orderBy("rn")).alias("seq"),
        F.count(F.lit(1)).over(wkey).alias("n"),
    )
    n = F.col("n")
    b1 = (n / 3).cast("long") + F.when(n % 3 >= 1, 1).otherwise(0)
    b2 = (
        2 * (n / 3).cast("long")
        + F.when(n % 3 >= 1, 1).otherwise(0)
        + F.when(n % 3 >= 2, 1).otherwise(0)
    )
    bounds = base.select("user_id", "n", b1.alias("b1"), b2.alias("b2")).distinct()
    folds = (
        bounds.crossJoin(
            F.broadcast(
                s.sparkSession.range(1, 3).select(F.col("id").cast("int").alias("fold"))
            )
        )
        .select(
            "user_id",
            "fold",
            F.when(F.col("fold") == 1, F.col("b1")).otherwise(F.col("b2")).alias(
                "train_end"
            ),
            F.when(F.col("fold") == 1, F.col("b2")).otherwise(F.col("n")).alias(
                "test_end"
            ),
        )
        .filter((F.col("train_end") >= 10) & (F.col("test_end") > F.col("train_end")))
    )
    ma = base.select(
        "user_id",
        "seq",
        F.avg("value").over(wkey.orderBy("seq").rowsBetween(-4, 0)).alias("ma5"),
    )
    models = literal_grid(
        s.sparkSession, [("naive",), ("ma5",)], "model string"
    )
    lt = base.select(
        F.col("user_id").alias("u1"), F.col("seq").alias("lt_seq"), F.col("value").alias("last_train")
    )
    mm = ma.select(
        F.col("user_id").alias("u2"), F.col("seq").alias("ma_seq"), "ma5"
    )
    preds = (
        folds.crossJoin(F.broadcast(models))
        .join(lt, (F.col("user_id") == F.col("u1")) & (F.col("train_end") == F.col("lt_seq")))
        .join(mm, (F.col("user_id") == F.col("u2")) & (F.col("train_end") == F.col("ma_seq")))
        .select(
            "user_id",
            "fold",
            "model",
            "train_end",
            "test_end",
            F.when(F.col("model") == "naive", F.col("last_train"))
            .otherwise(F.col("ma5"))
            .alias("pred"),
            "last_train",
        )
    )
    tb = base.select(
        F.col("user_id").alias("u3"), F.col("seq").alias("t_seq"), F.col("value").alias("t_val")
    )
    test = preds.join(
        tb,
        (F.col("user_id") == F.col("u3"))
        & (F.col("t_seq") > F.col("train_end"))
        & (F.col("t_seq") <= F.col("test_end")),
    ).select(
        "user_id",
        "fold",
        "model",
        "pred",
        "last_train",
        "t_seq",
        "t_val",
        F.lead("t_val")
        .over(W.partitionBy("user_id", "fold", "model").orderBy("t_seq"))
        .alias("nxt"),
    )
    per_fold = test.groupBy("user_id", "fold", "model").agg(
        F.avg(F.abs(F.col("t_val") - F.col("pred"))).alias("mae"),
        F.sqrt(F.avg(F.pow(F.col("t_val") - F.col("pred"), 2))).alias("rmse"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("nxt").isNotNull(),
                    F.signum(F.col("pred") - F.col("last_train"))
                    * (F.col("t_val") - F.col("nxt")),
                )
            ),
            F.lit(0.0),
        ).alias("profit"),
    )
    pr = F.col("profit")
    gross_win = F.sum(F.when(pr > 0, pr).otherwise(0.0))
    gross_loss = F.sum(F.when(pr < 0, -pr).otherwise(0.0))
    return per_fold.groupBy("user_id", "model").agg(
        r6(
            F.when(gross_loss > 0, F.least(gross_win / gross_loss, F.lit(_BCV_PF_CAP)))
            .when(gross_win > 0, F.lit(_BCV_PF_CAP))
            .otherwise(0.0)
        ).alias("profit_factor"),
        r6(F.least(F.min(pr), F.lit(0.0))).alias("max_drawdown"),
        r6(F.avg(F.when(pr > 0, 1.0).otherwise(0.0))).alias("hit_rate"),
        r6(F.avg("mae")).alias("mae"),
        r6(F.avg("rmse")).alias("rmse"),
        r6(F.avg(pr)).alias("mean_profit"),
        F.count(F.lit(1)).cast("long").alias("n_folds"),
    )


# ---------------------------------------------------------------------------
# Forecast regression-metric suite (forcester_ts/metrics.py, complete)
# ---------------------------------------------------------------------------

_FM_EPS = 1e-9
_FM_TRAIN_FRAC = 0.8


@query(
    "forecast_metrics_suite",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    base AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS seq,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM s
    ),
    pred AS (
      SELECT user_id, seq, n, value,
             CAST(FLOOR({_FM_TRAIN_FRAC} * n) AS BIGINT) AS split,
             LAG(value) OVER wp AS p_naive,
             AVG(value) OVER (PARTITION BY user_id ORDER BY seq
               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS p_ma5,
             COUNT(value) OVER (PARTITION BY user_id ORDER BY seq
               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS ma_n
      FROM base WINDOW wp AS (PARTITION BY user_id ORDER BY seq)
    ),
    long AS (
      SELECT p.user_id, p.seq, p.n, p.split, p.value, m.model,
             CASE m.model WHEN 'naive' THEN p.p_naive
                          ELSE CASE WHEN p.ma_n = 5 THEN p.p_ma5 END
             END AS pred
      FROM pred p
      CROSS JOIN (SELECT UNNEST(['naive', 'ma5']) AS model) m
    ),
    sig_train AS (
      SELECT user_id, model,
             STDDEV_SAMP(pred - value) AS sigma_train
      FROM long WHERE seq <= split AND pred IS NOT NULL
      GROUP BY user_id, model
    ),
    test AS (
      SELECT l.*,
             LAG(l.value) OVER wt AS a_prev,
             LAG(l.pred) OVER wt AS p_prev,
             ROW_NUMBER() OVER wt AS trow,
             COUNT(*) OVER (PARTITION BY l.user_id, l.model) AS tn
      FROM long l
      WHERE l.seq > l.split AND l.pred IS NOT NULL
      WINDOW wt AS (PARTITION BY l.user_id, l.model ORDER BY l.seq)
    ),
    agg AS (
      SELECT t.user_id, t.model,
             SQRT(AVG(POWER(t.pred - t.value, 2))) AS rmse,
             2.0 * AVG(ABS(t.pred - t.value)
                   / GREATEST(ABS(t.value) + ABS(t.pred), {_FM_EPS}))
               AS smape,
             SQRT(GREATEST(AVG(POWER(t.pred - t.value, 2))
                  - POWER(AVG(t.pred - t.value), 2), 0)) AS tracking_error,
             AVG(CASE WHEN t.a_prev IS NOT NULL THEN
               CASE WHEN SIGN(t.value - t.a_prev) = SIGN(t.pred - t.p_prev)
                    THEN 1.0 ELSE 0.0 END END) AS directional_accuracy,
             MAX(CASE WHEN t.trow = 1 THEN t.value END) AS a_first,
             MAX(CASE WHEN t.trow = t.tn THEN t.value END) AS a_last,
             MAX(CASE WHEN t.trow = 1 THEN t.pred END) AS p_first,
             MAX(CASE WHEN t.trow = t.tn THEN t.pred END) AS p_last,
             CAST(MAX(t.tn) AS BIGINT) AS n_test
      FROM test t GROUP BY t.user_id, t.model
    )
    SELECT a.user_id, a.model,
           ROUND(a.rmse, 6) AS rmse,
           ROUND(a.smape, 6) AS smape,
           ROUND(a.tracking_error, 6) AS tracking_error,
           ROUND(a.directional_accuracy, 6) AS directional_accuracy,
           CAST(CASE WHEN SIGN(a.p_last - a.p_first) = 0
                      OR SIGN(a.a_last - a.a_first) = 0 THEN 0
                     WHEN SIGN(a.p_last - a.p_first)
                          = SIGN(a.a_last - a.a_first) THEN 1
                     ELSE 0 END AS INT) AS terminal_da,
           CAST(CASE WHEN a.a_last BETWEEN a.p_last - 1.96 * st.sigma_train
                                       AND a.p_last + 1.96 * st.sigma_train
                     THEN 1 ELSE 0 END AS INT) AS terminal_ci_covered,
           a.n_test
    FROM agg a JOIN sig_train st
      ON st.user_id = a.user_id AND st.model = a.model
    """,
)
def forecast_metrics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE forecast regression-metric suite — reference
    `forcester_ts/metrics.py:39-185`: RMSE, symmetric MAPE with the 1e-9
    epsilon guard, tracking error (population std of residuals,
    `:67-82`), one-step directional accuracy (sign-match of consecutive
    changes, `:84-107`), TERMINAL directional accuracy (first-to-last
    sign, flat counted incorrect, `:109-141` — "the metric that maps
    directly to multi-step trade P&L"), and terminal CI coverage
    (`:144-183`) with a 1.96-sigma band from train residuals.

    Evaluated walk-forward on the last 20% holdout per key for the naive
    and trailing-MA5 one-step forecasters (the harness's model
    interface). One window pass builds both predictors; per-(key, model)
    aggregates do the rest — the suite is a projection over one shuffle."""
    from pyspark.sql import Window as W

    s = _series(spark, sf_dir).select("user_id", "rn", "value")
    wkey = W.partitionBy("user_id")
    base = s.select(
        "user_id",
        "value",
        F.row_number().over(wkey.orderBy("rn")).alias("seq"),
        F.count(F.lit(1)).over(wkey).alias("n"),
    )
    wp = wkey.orderBy("seq")
    pred = base.select(
        "user_id",
        "seq",
        "n",
        "value",
        F.floor(_FM_TRAIN_FRAC * F.col("n")).cast("long").alias("split"),
        F.lag("value").over(wp).alias("p_naive"),
        F.avg("value").over(wp.rowsBetween(-5, -1)).alias("p_ma5"),
        F.count("value").over(wp.rowsBetween(-5, -1)).alias("ma_n"),
    )
    models = literal_grid(s.sparkSession, [("naive",), ("ma5",)], "model string")
    long = pred.crossJoin(F.broadcast(models)).select(
        "user_id",
        "seq",
        "n",
        "split",
        "value",
        "model",
        F.when(F.col("model") == "naive", F.col("p_naive"))
        .otherwise(F.when(F.col("ma_n") == 5, F.col("p_ma5")))
        .alias("pred"),
    )
    sig_train = (
        long.filter((F.col("seq") <= F.col("split")) & F.col("pred").isNotNull())
        .groupBy("user_id", "model")
        .agg(F.stddev_samp(F.col("pred") - F.col("value")).alias("sigma_train"))
    )
    wt = W.partitionBy("user_id", "model").orderBy("seq")
    test = (
        long.filter((F.col("seq") > F.col("split")) & F.col("pred").isNotNull())
        .select(
            "user_id",
            "model",
            "seq",
            "value",
            "pred",
            F.lag("value").over(wt).alias("a_prev"),
            F.lag("pred").over(wt).alias("p_prev"),
            F.row_number().over(wt).alias("trow"),
            F.count(F.lit(1)).over(W.partitionBy("user_id", "model")).alias("tn"),
        )
    )
    resid = F.col("pred") - F.col("value")
    da_term = F.when(
        F.col("a_prev").isNotNull(),
        F.when(
            F.signum(F.col("value") - F.col("a_prev"))
            == F.signum(F.col("pred") - F.col("p_prev")),
            1.0,
        ).otherwise(0.0),
    )
    agg = test.groupBy("user_id", "model").agg(
        F.sqrt(F.avg(F.pow(resid, 2))).alias("rmse"),
        (
            2.0
            * F.avg(
                F.abs(resid)
                / F.greatest(
                    F.abs(F.col("value")) + F.abs(F.col("pred")), F.lit(_FM_EPS)
                )
            )
        ).alias("smape"),
        F.sqrt(
            F.greatest(
                F.avg(F.pow(resid, 2)) - F.pow(F.avg(resid), 2), F.lit(0.0)
            )
        ).alias("tracking_error"),
        F.avg(da_term).alias("directional_accuracy"),
        F.max(F.when(F.col("trow") == 1, F.col("value"))).alias("a_first"),
        F.max(F.when(F.col("trow") == F.col("tn"), F.col("value"))).alias(
            "a_last"
        ),
        F.max(F.when(F.col("trow") == 1, F.col("pred"))).alias("p_first"),
        F.max(F.when(F.col("trow") == F.col("tn"), F.col("pred"))).alias(
            "p_last"
        ),
        F.max("tn").cast("long").alias("n_test"),
    )
    psign = F.signum(F.col("p_last") - F.col("p_first"))
    asign = F.signum(F.col("a_last") - F.col("a_first"))
    return agg.join(sig_train, ["user_id", "model"]).select(
        "user_id",
        "model",
        r6(F.col("rmse")).alias("rmse"),
        r6(F.col("smape")).alias("smape"),
        r6(F.col("tracking_error")).alias("tracking_error"),
        r6(F.col("directional_accuracy")).alias("directional_accuracy"),
        F.when((psign == 0) | (asign == 0), 0)
        .when(psign == asign, 1)
        .otherwise(0)
        .cast("int")
        .alias("terminal_da"),
        F.when(
            F.col("a_last").between(
                F.col("p_last") - 1.96 * F.col("sigma_train"),
                F.col("p_last") + 1.96 * F.col("sigma_train"),
            ),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("terminal_ci_covered"),
        "n_test",
    )


# ---------------------------------------------------------------------------
# Ensemble safety policy + strict preselection gate (audit-history driven)
# ---------------------------------------------------------------------------

# Reference `forcester_ts/forecaster.py`: the audit-history stats
# (`:2732-2748`) feed two gates — `_enforce_ensemble_safety` (`:3179-3259`,
# the KEEP / DISABLE_DEFAULT / RESEARCH_ONLY policy ladder) and
# `_preselection_default_gate` (`:3045-3098`). Config-driven knobs pinned
# here, interpolated into BOTH engines. max-ratio / lift / preselection
# values are the reference's `_HARDENED_RMSE_MONITOR_DEFAULTS` (`:53-61`);
# promotion margin / lift-gate knobs use a deployment-style override so
# every ladder branch is live (the pure dataclass defaults zero them out).
_ESAFE_BLOCK = 15  # rows per audit window (full windows only)
_ESAFE_MAX_RATIO = 1.1  # max_rmse_ratio_vs_baseline
_ESAFE_MIN_LIFT_RMSE = 0.02  # min_lift_rmse_ratio -> lift when ratio < 0.98
_ESAFE_PROMOTION_MARGIN = 0.05
_ESAFE_MIN_LIFT_FRACTION = 0.30
_ESAFE_MIN_EFFECTIVE = 3  # also max(min_effective_audits, holding_period)
_PRESEL_RECENT_WINDOW = 5  # strict_preselection_recent_window
_PRESEL_MIN_EFFECTIVE = 3  # strict_preselection_min_effective_audits

_AUDIT_SQL = f"""
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
    a AS (
      SELECT user_id,
             CAST(FLOOR((rn - 11) / {_ESAFE_BLOCK}) AS INT) AS audit_id,
             COUNT(*) AS bn,
             SQRT(AVG(POWER(value - prev, 2)))   AS r_n,
             SQRT(AVG(POWER(value - f_ma3, 2)))  AS r_3,
             SQRT(AVG(POWER(value - f_ma10, 2))) AS r_10,
             SQRT(AVG(POWER(value - (prev + f_ma3 + f_ma10) / 3.0, 2)))
               AS r_e
      FROM f
      GROUP BY user_id, CAST(FLOOR((rn - 11) / {_ESAFE_BLOCK}) AS INT)
      HAVING COUNT(*) = {_ESAFE_BLOCK}
    ),
    r AS (
      SELECT user_id, audit_id,
             r_e / LEAST(r_n, r_3, r_10) AS ratio,
             LEAST(r_n, r_3, r_10) AS best_rmse, r_e,
             CASE WHEN r_n <= r_3 AND r_n <= r_10 THEN 'naive'
                  WHEN r_3 <= r_10 THEN 'ma3' ELSE 'ma10' END AS best_model,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY audit_id DESC)
               AS recency
      FROM a
    )
"""


def _audit_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_baseline_forecasts`` cut into consecutive full ``_ESAFE_BLOCK``-row
    audit windows (one window = one audit file), with each window's RMSE
    for naive (``r_n``), ma3 (``r_3``), ma10 (``r_10``) and their
    equal-weight ensemble (``r_e``): ``_AUDIT_SQL``'s ``a`` frame."""
    f = _baseline_forecasts(spark, sf_dir)

    def rmse(pred):
        return F.sqrt(F.avg(F.pow(F.col("value") - pred, 2)))

    return (
        f.withColumn(
            "audit_id", F.floor((F.col("rn") - 11) / _ESAFE_BLOCK).cast("int")
        )
        .groupBy("user_id", "audit_id")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            rmse(F.col("prev")).alias("r_n"),
            rmse(F.col("f_ma3")).alias("r_3"),
            rmse(F.col("f_ma10")).alias("r_10"),
            rmse((F.col("prev") + F.col("f_ma3") + F.col("f_ma10")) / 3.0).alias(
                "r_e"
            ),
        )
        .filter(F.col("bn") == _ESAFE_BLOCK)
    )


@query(
    "ensemble_safety_policy",
    oracle=f"""
    {_AUDIT_SQL},
    h AS (
      SELECT user_id, COUNT(*) AS effective_n,
             AVG(CASE WHEN ratio > {_ESAFE_MAX_RATIO} THEN 1.0 ELSE 0.0 END)
               AS violation_rate,
             AVG(CASE WHEN ratio < 1.0 - {_ESAFE_MIN_LIFT_RMSE}
                      THEN 1.0 ELSE 0.0 END) AS lift_fraction
      FROM r GROUP BY user_id
    ),
    cur AS (SELECT * FROM r WHERE recency = 1),
    d AS (
      SELECT cur.user_id, h.effective_n, cur.ratio, cur.r_e, cur.best_rmse,
             cur.best_model, h.violation_rate, h.lift_fraction,
             CASE WHEN cur.ratio > {_ESAFE_MAX_RATIO} THEN 'DISABLE_DEFAULT'
                  WHEN h.effective_n >= {_ESAFE_MIN_EFFECTIVE}
                       AND h.lift_fraction < {_ESAFE_MIN_LIFT_FRACTION}
                  THEN 'DISABLE_DEFAULT'
                  WHEN cur.ratio > 1.0 - {_ESAFE_PROMOTION_MARGIN}
                  THEN 'RESEARCH_ONLY'
                  ELSE 'KEEP' END AS decision,
             CASE WHEN cur.ratio > {_ESAFE_MAX_RATIO} THEN 'rmse_regression'
                  WHEN h.effective_n >= {_ESAFE_MIN_EFFECTIVE}
                       AND h.lift_fraction < {_ESAFE_MIN_LIFT_FRACTION}
                  THEN 'insufficient_lift'
                  WHEN cur.ratio > 1.0 - {_ESAFE_PROMOTION_MARGIN}
                  THEN 'no_margin_lift'
                  ELSE 'ensemble_within_tolerance' END AS reason
      FROM cur JOIN h ON cur.user_id = h.user_id
    )
    SELECT user_id, effective_n,
           ROUND(ratio, 6) AS rmse_ratio,
           ROUND(r_e, 6) AS ensemble_rmse,
           ROUND(best_rmse, 6) AS best_model_rmse,
           best_model,
           ROUND(violation_rate, 6) AS violation_rate,
           ROUND(lift_fraction, 6) AS lift_fraction,
           decision, reason,
           CASE WHEN decision <> 'KEEP' THEN UPPER(best_model)
                ELSE 'ENSEMBLE' END AS default_model
    FROM d
    """,
)
def ensemble_safety_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's post-evaluation ensemble policy ladder —
    `forcester_ts/forecaster.py:3179-3259` (`_enforce_ensemble_safety`)
    over `:2732-2748` audit-history stats. The series is cut into
    consecutive full 15-row audit windows (one window = one audit file);
    each audit's RMSE ratio is equal-weight-ensemble vs the best single
    model; history stats (violation_rate: ratio > 1.1, lift_fraction:
    ratio < 0.98) aggregate all audits; the CURRENT audit (latest window)
    drives the ladder: rmse regression (ratio > max_ratio) ->
    DISABLE_DEFAULT, chronic insufficient lift with enough audit evidence
    -> DISABLE_DEFAULT, inside the promotion margin -> RESEARCH_ONLY, else
    KEEP; any non-KEEP decision demotes the default model to the best
    single (`:3229-3231`). The index-mismatch branch (`:3211-3213`) cannot
    occur here — both sides derive forecasts from the same aligned frame.

    Scale: one window pass, one (user, audit) groupBy, then
    key-cardinality frames joined on user_id. No UDF, no collect."""
    a = _audit_windows(spark, sf_dir)
    best = F.least("r_n", "r_3", "r_10")
    r = a.select(
        "user_id",
        "audit_id",
        (F.col("r_e") / best).alias("ratio"),
        best.alias("best_rmse"),
        "r_e",
        F.when(
            (F.col("r_n") <= F.col("r_3")) & (F.col("r_n") <= F.col("r_10")),
            "naive",
        )
        .when(F.col("r_3") <= F.col("r_10"), "ma3")
        .otherwise("ma10")
        .alias("best_model"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("audit_id").desc()))
        .alias("recency"),
    )
    h = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("effective_n"),
        F.avg((F.col("ratio") > _ESAFE_MAX_RATIO).cast("double")).alias(
            "violation_rate"
        ),
        F.avg(
            (F.col("ratio") < 1.0 - _ESAFE_MIN_LIFT_RMSE).cast("double")
        ).alias("lift_fraction"),
    )
    cur = r.filter(F.col("recency") == 1)
    j = cur.join(h, "user_id")
    ratio = F.col("ratio")
    no_lift = (F.col("effective_n") >= _ESAFE_MIN_EFFECTIVE) & (
        F.col("lift_fraction") < _ESAFE_MIN_LIFT_FRACTION
    )
    decision = (
        F.when(ratio > _ESAFE_MAX_RATIO, "DISABLE_DEFAULT")
        .when(no_lift, "DISABLE_DEFAULT")
        .when(ratio > 1.0 - _ESAFE_PROMOTION_MARGIN, "RESEARCH_ONLY")
        .otherwise("KEEP")
    )
    reason = (
        F.when(ratio > _ESAFE_MAX_RATIO, "rmse_regression")
        .when(no_lift, "insufficient_lift")
        .when(ratio > 1.0 - _ESAFE_PROMOTION_MARGIN, "no_margin_lift")
        .otherwise("ensemble_within_tolerance")
    )
    return j.select(
        "user_id",
        "effective_n",
        r6(ratio).alias("rmse_ratio"),
        r6(F.col("r_e")).alias("ensemble_rmse"),
        r6(F.col("best_rmse")).alias("best_model_rmse"),
        "best_model",
        r6(F.col("violation_rate")).alias("violation_rate"),
        r6(F.col("lift_fraction")).alias("lift_fraction"),
        decision.alias("decision"),
        reason.alias("reason"),
        F.when(decision != "KEEP", F.upper(F.col("best_model")))
        .otherwise("ENSEMBLE")
        .alias("default_model"),
    )


@query(
    "preselection_default_gate",
    oracle=f"""
    {_AUDIT_SQL},
    g AS (
      SELECT user_id,
             COUNT(*) AS effective_n,
             AVG(CASE WHEN recency <= {_PRESEL_RECENT_WINDOW}
                      THEN ratio END) AS recent_ratio
      FROM r GROUP BY user_id
    )
    SELECT user_id, effective_n,
           {_PRESEL_RECENT_WINDOW} AS recent_window,
           ROUND(recent_ratio, 6) AS recent_rmse_ratio,
           CASE WHEN effective_n < {_PRESEL_MIN_EFFECTIVE} THEN 1
                WHEN recent_ratio > {_ESAFE_MAX_RATIO} THEN 0
                ELSE 1 END AS allow_as_default,
           CASE WHEN effective_n < {_PRESEL_MIN_EFFECTIVE}
                THEN 'insufficient_effective_audits'
                WHEN recent_ratio > {_ESAFE_MAX_RATIO}
                THEN 'recent_ratio_above_threshold'
                ELSE 'preselection_gate_passed' END AS reason
    FROM g
    """,
)
def preselection_default_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strict preselection gate — `forcester_ts/forecaster.py:
    3045-3098` (`_preselection_default_gate`) with the hardened defaults
    (`:53-61`): mean RMSE ratio over the 5 most recent audit windows;
    fewer than 3 effective audits keeps the ensemble allowed (one noisy
    ratio is not signal — the reference's comment), a recent mean ratio
    above 1.1 demotes the ensemble from default BEFORE any holdout runs.
    The no-recent-ratios branch collapses into the insufficient-audits one
    here (a user with zero audits has no row at all). Same audit-window
    frame as `ensemble_safety_policy`; key-cardinality aggregation."""
    a = _audit_windows(spark, sf_dir)
    r = a.select(
        "user_id",
        (F.col("r_e") / F.least("r_n", "r_3", "r_10")).alias("ratio"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("audit_id").desc()))
        .alias("recency"),
    )
    g = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("effective_n"),
        F.avg(
            F.when(F.col("recency") <= _PRESEL_RECENT_WINDOW, F.col("ratio"))
        ).alias("recent_ratio"),
    )
    return g.select(
        "user_id",
        "effective_n",
        F.lit(_PRESEL_RECENT_WINDOW).alias("recent_window"),
        r6(F.col("recent_ratio")).alias("recent_rmse_ratio"),
        F.when(F.col("effective_n") < _PRESEL_MIN_EFFECTIVE, 1)
        .when(F.col("recent_ratio") > _ESAFE_MAX_RATIO, 0)
        .otherwise(1)
        .alias("allow_as_default"),
        F.when(
            F.col("effective_n") < _PRESEL_MIN_EFFECTIVE,
            "insufficient_effective_audits",
        )
        .when(
            F.col("recent_ratio") > _ESAFE_MAX_RATIO,
            "recent_ratio_above_threshold",
        )
        .otherwise("preselection_gate_passed")
        .alias("reason"),
    )


# ---------------------------------------------------------------------------
# Bayesian order prior from the walk-forward fit history
# ---------------------------------------------------------------------------


@query("bayesian_order_prior")
def bayesian_order_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian warm-start prior — reference `forcester_ts/
    parameter_cache.py:222-357` (`compute_bayesian_prior`): each
    historical fit is one ParameterRecord; per order the prior weight is
    frequency-of-appearance x inverse performance (1/(1+avg rmse), the
    lower-is-better arm), normalized into order probabilities; the argmax
    order becomes the prior with its probability as confidence, and
    hyperparameter means come from the top-30% performers (numpy
    30th-percentile threshold = linear-interpolated quantile). The fit
    history here is the engine's own walk-forward refit ledger (one
    record per (key, fold), the `walkforward_refit_eval` staged frame),
    so the prior derives from real expanding-window fits, not synthetic
    rows; min_observations = 3 gates exactly as the reference. Ties in
    the argmax resolve to the smaller order (the reference's dict-
    insertion first-max is record-order dependent; a deterministic rule
    is required for a distributed engine and float ties are measure-zero
    anyway).

    Both engines read the SAME staged full-precision artifacts and
    aggregate independently — pure key-cardinality groupBys."""
    rec = _wf_refit_params(spark, sf_dir)
    base = (
        rec.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.expr("percentile(rmse, 0.30D)").alias("thr"),
            F.sum((F.col("best_order") == 1).cast("long")).alias("c1"),
            F.sum((F.col("best_order") == 2).cast("long")).alias("c2"),
            F.avg(F.when(F.col("best_order") == 1, F.col("rmse"))).alias("r1"),
            F.avg(F.when(F.col("best_order") == 2, F.col("rmse"))).alias("r2"),
        )
        .filter(F.col("n_obs") >= 3)
    )
    nd = F.col("n_obs").cast("double")
    s1 = F.coalesce(
        (F.col("c1") / nd) * (1.0 / (1.0 + F.col("r1"))), F.lit(0.0)
    )
    s2 = F.coalesce(
        (F.col("c2") / nd) * (1.0 / (1.0 + F.col("r2"))), F.lit(0.0)
    )
    pr = base.select(
        "*", (s1 / (s1 + s2)).alias("p1"), (s2 / (s1 + s2)).alias("p2")
    )
    good = (
        rec.join(base.select("user_id", "thr"), "user_id")
        .filter(F.col("rmse") <= F.col("thr"))
        .groupBy("user_id")
        .agg(
            F.avg("beta0").alias("mb0"),
            F.avg("beta1").alias("mb1"),
            F.avg("beta2").alias("mb2"),
        )
    )
    return pr.join(good, "user_id").select(
        "user_id",
        "n_obs",
        F.col("c1").alias("n_order1"),
        F.col("c2").alias("n_order2"),
        F.round(F.col("p1"), 6).alias("prob_order1"),
        F.round(F.col("p2"), 6).alias("prob_order2"),
        F.when(F.col("p1") >= F.col("p2"), 1).otherwise(2).alias("best_order"),
        F.round(F.greatest(F.col("p1"), F.col("p2")), 6).alias("confidence"),
        F.round(F.col("thr"), 6).alias("perf_threshold"),
        F.round(F.col("mb0"), 6).alias("mean_beta0"),
        F.round(F.col("mb1"), 6).alias("mean_beta1"),
        F.round(F.col("mb2"), 6).alias("mean_beta2"),
    )


ORACLE["bayesian_order_prior"] = """
    WITH rec AS (
      SELECT user_id, fold, best_order, rmse, beta0, beta1, beta2
      FROM read_parquet('__ORACLE_STAGE__/wf_refit_params/*.parquet')
    ),
    base AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_obs,
             QUANTILE_CONT(rmse, 0.30) AS thr,
             CAST(SUM(CASE WHEN best_order = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
             CAST(SUM(CASE WHEN best_order = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS c2,
             AVG(CASE WHEN best_order = 1 THEN rmse END) AS r1,
             AVG(CASE WHEN best_order = 2 THEN rmse END) AS r2
      FROM rec GROUP BY user_id HAVING COUNT(*) >= 3
    ),
    sc AS (
      SELECT *,
             COALESCE((c1 / CAST(n_obs AS DOUBLE)) * (1.0 / (1.0 + r1)), 0.0)
               AS s1,
             COALESCE((c2 / CAST(n_obs AS DOUBLE)) * (1.0 / (1.0 + r2)), 0.0)
               AS s2
      FROM base
    ),
    pr AS (
      SELECT *, s1 / (s1 + s2) AS p1, s2 / (s1 + s2) AS p2 FROM sc
    ),
    good AS (
      SELECT r.user_id, AVG(r.beta0) AS mb0, AVG(r.beta1) AS mb1,
             AVG(r.beta2) AS mb2
      FROM rec r JOIN base b ON b.user_id = r.user_id
      WHERE r.rmse <= b.thr GROUP BY r.user_id
    )
    SELECT p.user_id, p.n_obs, p.c1 AS n_order1, p.c2 AS n_order2,
           ROUND(p.p1, 6) AS prob_order1,
           ROUND(p.p2, 6) AS prob_order2,
           CASE WHEN p.p1 >= p.p2 THEN 1 ELSE 2 END AS best_order,
           ROUND(GREATEST(p.p1, p.p2), 6) AS confidence,
           ROUND(p.thr, 6) AS perf_threshold,
           ROUND(g.mb0, 6) AS mean_beta0,
           ROUND(g.mb1, 6) AS mean_beta1,
           ROUND(g.mb2, 6) AS mean_beta2
    FROM pr p JOIN good g ON g.user_id = p.user_id
    """


# ---------------------------------------------------------------------------
# Parameter-cache retrain decision ladder
# ---------------------------------------------------------------------------

# Reference `forcester_ts/parameter_cache.py:396-447` (`should_retrain`)
# with the `_compute_data_hash` fingerprint (`:84-102`). Constants are the
# reference defaults: 7-day max cache age, 20 new points, and a 30-row
# minimum for a cache entry to exist at all. The fingerprint hash is
# compared FIELD-WISE (length, end timestamp, 6dp mean/std, first/last-10
# sample) — logically identical to the reference's frozenset hash equality
# minus collision risk, and free of cross-engine float-formatting hazards.
_RETRAIN_MAX_AGE_DAYS = 7
_RETRAIN_MIN_NEW_POINTS = 20
_RETRAIN_MIN_CACHE_ROWS = 30


@query(
    "retrain_decision_ladder",
    oracle=f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    cp AS (SELECT 'stale' AS checkpoint UNION ALL SELECT 'fresh'),
    cuts AS (
      SELECT DISTINCT s.user_id, s.n, cp.checkpoint,
             CASE cp.checkpoint
                  WHEN 'stale' THEN CAST(CEIL(0.8 * s.n) AS BIGINT)
                  ELSE s.n END AS cut
      FROM s CROSS JOIN cp
    ),
    pref AS (
      SELECT c.user_id, c.checkpoint, c.cut, c.n,
             COUNT(*) AS len,
             AVG(s.value) AS mean_raw,
             STDDEV_SAMP(s.value) AS std_raw,
             MAX(EPOCH(s.ts)) AS end_epoch,
             STRING_AGG(CASE WHEN s.rn <= 10
                             THEN CAST(ROUND(s.value, 6) AS VARCHAR) END,
                        ',' ORDER BY s.rn) AS first10,
             STRING_AGG(CASE WHEN s.rn > c.cut - 10
                             THEN CAST(ROUND(s.value, 6) AS VARCHAR) END,
                        ',' ORDER BY s.rn) AS last10
      FROM cuts c JOIN s ON s.user_id = c.user_id AND s.rn <= c.cut
      GROUP BY c.user_id, c.checkpoint, c.cut, c.n
    ),
    cur AS (
      SELECT user_id, len AS c_len, mean_raw AS c_mean, std_raw AS c_std,
             end_epoch AS c_end, first10 AS c_first, last10 AS c_last
      FROM pref WHERE checkpoint = 'fresh'
    ),
    j AS (
      SELECT p.user_id, p.checkpoint, p.cut AS n_cached, p.n AS n_current,
             CAST(FLOOR((c.c_end - p.end_epoch) / 86400.0) AS INTEGER)
               AS age_days,
             p.n - p.cut AS new_points,
             CASE WHEN p.len = c.c_len
                   AND ABS(p.mean_raw - c.c_mean)
                       <= 1e-9 * GREATEST(ABS(c.c_mean), 1e-12)
                   AND ABS(p.std_raw - c.c_std)
                       <= 1e-9 * GREATEST(ABS(c.c_std), 1e-12)
                   AND p.end_epoch = c.c_end
                   AND p.first10 = c.c_first AND p.last10 = c.c_last
                  THEN 1 ELSE 0 END AS hash_match
      FROM pref p JOIN cur c ON c.user_id = p.user_id
    )
    SELECT user_id, checkpoint, n_cached, n_current, age_days,
           new_points, hash_match,
           CASE WHEN n_cached < {_RETRAIN_MIN_CACHE_ROWS} THEN 1
                WHEN age_days > {_RETRAIN_MAX_AGE_DAYS} THEN 1
                WHEN new_points >= {_RETRAIN_MIN_NEW_POINTS} THEN 1
                WHEN hash_match = 0 THEN 1
                ELSE 0 END AS should_retrain,
           CASE WHEN n_cached < {_RETRAIN_MIN_CACHE_ROWS}
                THEN 'no_cached_parameters'
                WHEN age_days > {_RETRAIN_MAX_AGE_DAYS} THEN 'cache_too_old'
                WHEN new_points >= {_RETRAIN_MIN_NEW_POINTS} THEN 'new_data'
                WHEN hash_match = 0 THEN 'data_distribution_changed'
                ELSE 'cache_valid' END AS reason
    FROM j
    """,
)
def retrain_decision_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parameter-cache retrain gate — reference
    `forcester_ts/parameter_cache.py:396-447` (`should_retrain`); the
    model-snapshot store's load-eligibility ladder is the same rule
    family with the signs flipped (`forcester_ts/model_snapshot_store
    .py:213-292`: stale age → obs delta > 20 → optional strict hash →
    refuse), so this query is the engine equivalent of BOTH caches'
    freshness gates: no
    cached parameters -> train; cache older than 7 days -> retrain; >= 20
    new points since the cached fit -> retrain; data-fingerprint change
    (`_compute_data_hash`, `:84-102`: length + date range + 6dp mean/std
    + first/last-10 sample) -> retrain; else the cache holds. Evaluated
    at TWO checkpoints per key: 'stale' (cached at the 80% prefix — the
    mid-ingest case) and 'fresh' (cached on the full series — the
    call-right-after-training case that exercises cache_valid and the
    zero-age path). Because the fingerprint includes length, ANY new data
    fails the hash rung — so the 1..19-new-points band lands in
    data_distribution_changed exactly as the reference behaves.

    The fingerprint comparison is field-wise (collision-free hash
    equality); mean/std compare under a 1e-9 relative tolerance — two
    within-engine computations of the same aggregate differ by ~1e-12
    from parallel summation order while genuinely different prefixes
    differ macroscopically, so the tolerance sits in the dead band (6dp
    ROUND equality flickered at rounding boundaries across runs). One prefix-join aggregation per
    checkpoint; key-cardinality everywhere after."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
    )
    cp = literal_grid(
        spark, [("stale",), ("fresh",)], "checkpoint STRING"
    )
    cuts = (
        s.select("user_id", "n")
        .distinct()
        .crossJoin(F.broadcast(cp))
        .select(
            "user_id",
            "n",
            "checkpoint",
            F.when(
                F.col("checkpoint") == "stale",
                F.ceil(0.8 * F.col("n")).cast("long"),
            )
            .otherwise(F.col("n"))
            .alias("cut"),
        )
    )
    from ..functions.scalars import epoch_seconds

    vs = F.col("value")
    joined = cuts.join(
        s.select(
            "user_id", "rn", "ts", "value"
        ).withColumnRenamed("user_id", "s_uid"),
        (F.col("user_id") == F.col("s_uid")) & (F.col("rn") <= F.col("cut")),
    )
    pref = joined.groupBy("user_id", "checkpoint", "cut", "n").agg(
        F.count(F.lit(1)).alias("len"),
        F.avg(vs).alias("mean_raw"),
        F.stddev_samp(vs).alias("std_raw"),
        F.max(epoch_seconds(F.col("ts"))).alias("end_epoch"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= 10,
                            F.struct(
                                F.col("rn"),
                                F.round(vs, 6).cast("string").alias("v"),
                            ),
                        )
                    )
                ),
                lambda x: x["v"],
            ),
            ",",
        ).alias("first10"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") > F.col("cut") - 10,
                            F.struct(
                                F.col("rn"),
                                F.round(vs, 6).cast("string").alias("v"),
                            ),
                        )
                    )
                ),
                lambda x: x["v"],
            ),
            ",",
        ).alias("last10"),
    )
    cur = pref.filter(F.col("checkpoint") == "fresh").select(
        F.col("user_id").alias("c_uid"),
        F.col("len").alias("c_len"),
        F.col("mean_raw").alias("c_mean"),
        F.col("std_raw").alias("c_std"),
        F.col("end_epoch").alias("c_end"),
        F.col("first10").alias("c_first"),
        F.col("last10").alias("c_last"),
    )
    j = pref.join(cur, pref["user_id"] == cur["c_uid"]).select(
        "user_id",
        "checkpoint",
        F.col("cut").alias("n_cached"),
        F.col("n").alias("n_current"),
        F.floor((F.col("c_end") - F.col("end_epoch")) / 86400.0)
        .cast("int")
        .alias("age_days"),
        (F.col("n") - F.col("cut")).alias("new_points"),
        (
            (F.col("len") == F.col("c_len"))
            & (
                F.abs(F.col("mean_raw") - F.col("c_mean"))
                <= 1e-9 * F.greatest(F.abs(F.col("c_mean")), F.lit(1e-12))
            )
            & (
                F.abs(F.col("std_raw") - F.col("c_std"))
                <= 1e-9 * F.greatest(F.abs(F.col("c_std")), F.lit(1e-12))
            )
            & (F.col("end_epoch") == F.col("c_end"))
            & (F.col("first10") == F.col("c_first"))
            & (F.col("last10") == F.col("c_last"))
        )
        .cast("int")
        .alias("hash_match"),
    )
    retrain = (
        F.when(F.col("n_cached") < _RETRAIN_MIN_CACHE_ROWS, 1)
        .when(F.col("age_days") > _RETRAIN_MAX_AGE_DAYS, 1)
        .when(F.col("new_points") >= _RETRAIN_MIN_NEW_POINTS, 1)
        .when(F.col("hash_match") == 0, 1)
        .otherwise(0)
    )
    reason = (
        F.when(
            F.col("n_cached") < _RETRAIN_MIN_CACHE_ROWS, "no_cached_parameters"
        )
        .when(F.col("age_days") > _RETRAIN_MAX_AGE_DAYS, "cache_too_old")
        .when(F.col("new_points") >= _RETRAIN_MIN_NEW_POINTS, "new_data")
        .when(F.col("hash_match") == 0, "data_distribution_changed")
        .otherwise("cache_valid")
    )
    return j.select(
        "user_id",
        "checkpoint",
        "n_cached",
        "n_current",
        "age_days",
        "new_points",
        "hash_match",
        retrain.alias("should_retrain"),
        reason.alias("reason"),
    )


# ---------------------------------------------------------------------------
# Rolling skewness feature (pandas bias-corrected G1, min_periods=1)
# ---------------------------------------------------------------------------


@query(
    "rolling_skew_features",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    m AS (
      SELECT user_id, rn,
             COUNT(*) OVER w AS n,
             SUM(value) OVER w AS s1,
             SUM(value * value) OVER w AS s2,
             SUM(value * value * value) OVER w AS s3
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY rn
                          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, rn,
           ROUND(CASE WHEN n >= 3 AND (s2 - s1 * s1 / n) > 0 THEN
             (CAST(n AS DOUBLE) * n / ((n - 1.0) * (n - 2.0)))
             * ((s3 - 3.0 * (s1 / n) * s2 + 2.0 * n * POWER(s1 / n, 3)) / n)
             / POWER((s2 - n * POWER(s1 / n, 2)) / (n - 1.0), 1.5)
           ELSE 0.0 END, 6) AS skew20
    FROM m
    """,
)
def rolling_skew_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-row skewness — reference `etl/
    time_series_feature_builder.py:111-115` (`roll.skew().fillna(0.0)`):
    pandas' adjusted Fisher-Pearson G1 (n^2/((n-1)(n-2)) * m3/s^3 with
    the ddof=1 std), NaN below 3 observations or at zero variance, then
    zero-filled. Expressed from windowed raw moments (one window pass,
    three SUMs — the repo's documented moment convention), so the whole
    feature is JVM-side column algebra; pandas agreement is pinned in
    tests against `rolling(20, min_periods=1).skew()` directly."""
    s = _series(spark, sf_dir)
    w = _w((-19, 0))
    v = F.col("value")
    m = s.select(
        "user_id",
        "rn",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(v).over(w).alias("s1"),
        F.sum(v * v).over(w).alias("s2"),
        F.sum(v * v * v).over(w).alias("s3"),
    )
    n = F.col("n").cast("double")
    s1, s2, s3 = F.col("s1"), F.col("s2"), F.col("s3")
    mean = s1 / n
    m3 = (s3 - 3.0 * mean * s2 + 2.0 * n * F.pow(mean, 3)) / n
    var1 = (s2 - n * F.pow(mean, 2)) / (n - 1.0)
    g1 = (n * n / ((n - 1.0) * (n - 2.0))) * m3 / F.pow(var1, 1.5)
    return m.select(
        "user_id",
        "rn",
        r6(
            F.when((F.col("n") >= 3) & ((s2 - s1 * s1 / n) > 0), g1).otherwise(
                F.lit(0.0)
            )
        ).alias("skew20"),
    )


# ---------------------------------------------------------------------------
# Feature-health telemetry report (Signal Quality B)
# ---------------------------------------------------------------------------

# Reference `etl/time_series_feature_builder.py:23-54,243-288`
# (`FeatureHealth`): per-build degradation telemetry. Thresholds are the
# reference constants: 20% cross-sectional fallback warning, 2x126-row
# minimum for the period-126 seasonal decomposition.
_FH_FALLBACK_WARN = 0.20
_FH_SEASONAL_MIN_ROWS = 252


@query(
    "feature_health_report",
    oracle=f"""
    WITH s AS ({_S_SQL}),
    base AS (
      SELECT user_id, COUNT(*) AS total_rows,
             GREATEST(COUNT(*) - 20, 0) AS output_rows
      FROM s GROUP BY user_id
    ),
    modes AS (SELECT 'single' AS build_mode UNION ALL SELECT 'cross'),
    j AS (
      SELECT b.user_id, m.build_mode, b.total_rows, b.output_rows,
             CASE WHEN m.build_mode = 'cross' THEN 1 ELSE 0 END
               AS cross_sectional_active,
             CASE WHEN m.build_mode = 'cross' THEN 0
                  ELSE b.output_rows END AS fallback_rows
      FROM base b CROSS JOIN modes m
    ),
    r AS (
      SELECT *,
             CASE WHEN output_rows > 0
                  THEN ROUND(CAST(fallback_rows AS DOUBLE) / output_rows, 4)
                  ELSE 0.0 END AS fallback_rate,
             CASE WHEN total_rows >= {_FH_SEASONAL_MIN_ROWS} THEN 1 ELSE 0 END
               AS seasonal_decomp_available
      FROM j
    )
    SELECT user_id, build_mode, total_rows, output_rows,
           cross_sectional_active, fallback_rows, fallback_rate,
           seasonal_decomp_available,
           0 AS microstructure_ohlcv_available,
           0 AS macro_context_available,
           CONCAT_WS(';',
             CASE WHEN fallback_rate > {_FH_FALLBACK_WARN}
                  THEN 'cross_sectional_neutralized' END,
             CASE WHEN seasonal_decomp_available = 0
                  THEN 'seasonal_decomp_unavailable' END,
             'microstructure_close_only') AS warnings,
           CASE WHEN fallback_rate > {_FH_FALLBACK_WARN} THEN 1 ELSE 0 END
           + CASE WHEN seasonal_decomp_available = 0 THEN 1 ELSE 0 END
           + 1 AS n_warnings
    FROM r
    """,
)
def feature_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signal-Quality-B feature-health telemetry — reference
    `etl/time_series_feature_builder.py:23-54,243-288` (`FeatureHealth`):
    per build, total vs post-dropna output rows (the 20-lag features are
    the only non-filled NaNs, so survivors = max(n-20, 0)), the
    cross-sectional neutralization census (single-key builds fall back to
    neutral rank=0.5/zscore=0.0 on every row; multi-key builds count 0 —
    both arms emitted via a build_mode dim), the period-126 seasonal
    availability gate (needs 2 complete cycles = 252 rows, `:197-208`),
    OHLCV / macro availability (absent for the events table — close-diff
    ATR fallback, exactly the reference's single-source shape), and the
    reference's warning ladder (>20% fallback, missing decomposition,
    close-only microstructure). Key-cardinality aggregation; the warning
    strings are the stable identifiers, not the reference's interpolated
    prose."""
    s = _series(spark, sf_dir)
    base = s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.greatest(F.count(F.lit(1)) - 20, F.lit(0)).alias("output_rows"),
    )
    modes = literal_grid(spark, [("single",), ("cross",)], "build_mode STRING")
    j = base.crossJoin(F.broadcast(modes)).select(
        "user_id",
        "build_mode",
        "total_rows",
        "output_rows",
        (F.col("build_mode") == "cross").cast("int").alias("cross_sectional_active"),
        F.when(F.col("build_mode") == "cross", F.lit(0).cast("long"))
        .otherwise(F.col("output_rows"))
        .alias("fallback_rows"),
    )
    rate = F.when(
        F.col("output_rows") > 0,
        F.round(F.col("fallback_rows").cast("double") / F.col("output_rows"), 4),
    ).otherwise(F.lit(0.0))
    r = j.select(
        "*",
        rate.alias("fallback_rate"),
        (F.col("total_rows") >= _FH_SEASONAL_MIN_ROWS)
        .cast("int")
        .alias("seasonal_decomp_available"),
    )
    warn1 = F.col("fallback_rate") > _FH_FALLBACK_WARN
    warn2 = F.col("seasonal_decomp_available") == 0
    return r.select(
        "user_id",
        "build_mode",
        "total_rows",
        "output_rows",
        "cross_sectional_active",
        "fallback_rows",
        "fallback_rate",
        "seasonal_decomp_available",
        F.lit(0).alias("microstructure_ohlcv_available"),
        F.lit(0).alias("macro_context_available"),
        F.concat_ws(
            ";",
            F.when(warn1, "cross_sectional_neutralized"),
            F.when(warn2, "seasonal_decomp_unavailable"),
            F.lit("microstructure_close_only"),
        ).alias("warnings"),
        (warn1.cast("int") + warn2.cast("int") + 1).alias("n_warnings"),
    )


# ---------------------------------------------------------------------------
# No-refit normalization: train-split stats applied to the serving split
# ---------------------------------------------------------------------------


@query(
    "normalization_apply_no_refit",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    tr AS (SELECT * FROM s WHERE rn <= n // 2),
    te AS (SELECT * FROM s WHERE rn > n // 2),
    pk AS (
      SELECT user_id, event_type,
             AVG(value) AS mean_t, STDDEV_SAMP(value) AS std_t
      FROM tr GROUP BY user_id, event_type
    ),
    gl AS (
      SELECT user_id, AVG(value) AS mean_g, STDDEV_SAMP(value) AS std_g
      FROM tr GROUP BY user_id
    ),
    app AS (
      SELECT te.user_id, te.event_type, te.value,
             COALESCE(pk.mean_t, gl.mean_g) AS mean_used,
             COALESCE(pk.std_t, gl.std_g) AS std_used,
             CASE WHEN pk.std_t IS NOT NULL AND pk.std_t <> 0
                  THEN 'per_key'
                  WHEN COALESCE(pk.std_t, gl.std_g) = 0
                    OR COALESCE(pk.std_t, gl.std_g) IS NULL THEN 'zero_std'
                  ELSE 'global_fallback' END AS stats_source
      FROM te
      LEFT JOIN pk ON pk.user_id = te.user_id
                  AND pk.event_type = te.event_type
      LEFT JOIN gl ON gl.user_id = te.user_id
    ),
    nz AS (
      SELECT user_id, event_type, stats_source,
             CASE WHEN std_used IS NULL OR std_used = 0 THEN 0.0
                  ELSE (value - mean_used) / std_used END AS z,
             mean_used, std_used
      FROM app
    )
    SELECT user_id, event_type, stats_source,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(ANY_VALUE(mean_used), 6) AS mean_used,
           ROUND(ANY_VALUE(std_used), 6) AS std_used,
           ROUND(AVG(z), 6) AS avg_z,
           ROUND(STDDEV_SAMP(z), 6) AS std_z,
           ROUND(MAX(ABS(z)), 6) AS max_abs_z
    FROM nz
    GROUP BY user_id, event_type, stats_source
    """,
)
def normalization_apply_no_refit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free serving-time normalization — reference
    `etl/preprocessor.py:270-328` (`apply_normalization`): z-score stats
    FITTED on the training window are applied to new data WITHOUT refit;
    per-key stats where the key was seen in training, the global fit
    stats where it was not (pandas' map + fillna fallback — a 1-row
    training key whose sample std is NaN falls back the same way), and a
    zero/undefined std yields 0.0 exactly as the reference's
    std_safe/fillna(0) chain. The train window is the first half of each
    key's series; event types that only appear in the second half
    exercise the global-fallback arm on real data. Grouped output per
    (key, event_type) with the z-moment census; two key-cardinality
    aggregations plus one fact-side join that co-partitions on user_id."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
    )
    tr = s.filter(F.col("rn") <= F.floor(F.col("n") / 2))
    te = s.filter(F.col("rn") > F.floor(F.col("n") / 2))
    pk = tr.groupBy("user_id", "event_type").agg(
        F.avg("value").alias("mean_t"), F.stddev_samp("value").alias("std_t")
    )
    gl = tr.groupBy("user_id").agg(
        F.avg("value").alias("mean_g"), F.stddev_samp("value").alias("std_g")
    )
    app = (
        te.join(pk, ["user_id", "event_type"], "left")
        .join(gl, "user_id", "left")
        .select(
            "user_id",
            "event_type",
            "value",
            F.coalesce(F.col("mean_t"), F.col("mean_g")).alias("mean_used"),
            F.coalesce(F.col("std_t"), F.col("std_g")).alias("std_used"),
            F.when(
                F.col("std_t").isNotNull() & (F.col("std_t") != 0), "per_key"
            )
            .when(
                F.coalesce(F.col("std_t"), F.col("std_g")).isNull()
                | (F.coalesce(F.col("std_t"), F.col("std_g")) == 0),
                "zero_std",
            )
            .otherwise("global_fallback")
            .alias("stats_source"),
        )
    )
    z = F.when(
        F.col("std_used").isNull() | (F.col("std_used") == 0), F.lit(0.0)
    ).otherwise((F.col("value") - F.col("mean_used")) / F.col("std_used"))
    nz = app.select("user_id", "event_type", "stats_source", z.alias("z"),
                    "mean_used", "std_used")
    return nz.groupBy("user_id", "event_type", "stats_source").agg(
        F.count(F.lit(1)).alias("n_test"),
        r6(F.any_value("mean_used")).alias("mean_used"),
        r6(F.any_value("std_used")).alias("std_used"),
        r6(F.avg("z")).alias("avg_z"),
        r6(F.stddev_samp("z")).alias("std_z"),
        r6(F.max(F.abs(F.col("z")))).alias("max_abs_z"),
    )


# ---------------------------------------------------------------------------
# Live ensemble monitor: per-ticker status + fleet recommendations
# ---------------------------------------------------------------------------

# Reference `dashboard/live_ensemble_monitor.py`: per-ticker analysis
# `:148-209`, automated recommendations `:211-295`, thresholds `:29-30`
# (baseline 1.682 from Phase-7.3 diagnostics, target 1.100).
_MON_BASELINE = 1.682
_MON_TARGET = 1.100

_MON_BASE_SQL = f"""
    {_AUDIT_SQL},
    wts AS (
      SELECT user_id, audit_id,
             (1/r_10) / ((1/r_n) + (1/r_3) + (1/r_10)) AS w10,
             r_e / LEAST(r_n, r_3, r_10) AS ratio
      FROM a
    ),
    tick AS (
      SELECT user_id,
             COUNT(*) AS forecast_count,
             AVG(w10) AS avg_gw, MAX(w10) AS max_gw,
             AVG(ratio) AS avg_ratio, MIN(ratio) AS min_ratio,
             MAX(ratio) AS max_ratio
      FROM wts GROUP BY user_id
    )
"""


@query(
    "ensemble_monitor_status",
    oracle=f"""
    {_MON_BASE_SQL}
    SELECT user_id, forecast_count,
           ROUND(avg_gw, 6) AS avg_garch_weight,
           ROUND(max_gw, 6) AS max_garch_weight,
           ROUND(avg_ratio, 6) AS avg_rmse_ratio,
           ROUND(min_ratio, 6) AS min_rmse_ratio,
           ROUND(max_ratio, 6) AS max_rmse_ratio,
           CASE WHEN avg_ratio < {_MON_TARGET} THEN 'TARGET_ACHIEVED'
                WHEN avg_ratio < {_MON_BASELINE} THEN 'IMPROVING'
                ELSE 'REGRESSING' END AS status,
           ROUND(CASE WHEN avg_ratio >= {_MON_TARGET}
                       AND avg_ratio < {_MON_BASELINE}
                      THEN ({_MON_BASELINE} - avg_ratio)
                           / ({_MON_BASELINE} - {_MON_TARGET}) * 100.0 END, 6)
             AS progress_to_target_pct,
           ROUND(({_MON_BASELINE} - avg_ratio) / {_MON_BASELINE} * 100.0, 6)
             AS improvement_pct,
           ROUND(avg_ratio - {_MON_TARGET}, 6) AS gap_to_target
    FROM tick
    """,
)
def ensemble_monitor_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker ensemble monitoring — reference
    `dashboard/live_ensemble_monitor.py:148-209`
    (`analyze_ticker_performance`): per audit window the vol-model
    (MA10-analog) inverse-RMSE weight and the ensemble-vs-best-single
    RMSE ratio, aggregated into the dashboard's stat block; the status
    ladder compares the average ratio against the Phase-7.3 baseline
    (1.682) and the 1.100 target, with the IMPROVING branch's
    progress-to-target percentage emitted as its own column (the
    reference interpolates it into the status string). Same audit-window
    frame as `ensemble_safety_policy`; one groupBy per key."""
    base = _monitor_tick_frame(spark, sf_dir)
    ar = F.col("avg_ratio")
    return base.select(
        "user_id",
        "forecast_count",
        r6(F.col("avg_gw")).alias("avg_garch_weight"),
        r6(F.col("max_gw")).alias("max_garch_weight"),
        r6(ar).alias("avg_rmse_ratio"),
        r6(F.col("min_ratio")).alias("min_rmse_ratio"),
        r6(F.col("max_ratio")).alias("max_rmse_ratio"),
        F.when(ar < _MON_TARGET, "TARGET_ACHIEVED")
        .when(ar < _MON_BASELINE, "IMPROVING")
        .otherwise("REGRESSING")
        .alias("status"),
        r6(
            F.when(
                (ar >= _MON_TARGET) & (ar < _MON_BASELINE),
                (_MON_BASELINE - ar) / (_MON_BASELINE - _MON_TARGET) * 100.0,
            )
        ).alias("progress_to_target_pct"),
        r6((_MON_BASELINE - ar) / _MON_BASELINE * 100.0).alias(
            "improvement_pct"
        ),
        r6(ar - _MON_TARGET).alias("gap_to_target"),
    )


@session_frame_cache
def _monitor_tick_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-ticker stat block for the two monitor queries."""
    a = _audit_windows(spark, sf_dir)
    w10 = (1 / F.col("r_10")) / (
        (1 / F.col("r_n")) + (1 / F.col("r_3")) + (1 / F.col("r_10"))
    )
    ratio = F.col("r_e") / F.least("r_n", "r_3", "r_10")
    wts = a.select("user_id", "audit_id", w10.alias("w10"), ratio.alias("ratio"))
    # 2 member queries; per-key grain — materialize once (opt r12, §2.4)
    return wts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("forecast_count"),
        F.avg("w10").alias("avg_gw"),
        F.max("w10").alias("max_gw"),
        F.avg("ratio").alias("avg_ratio"),
        F.min("ratio").alias("min_ratio"),
        F.max("ratio").alias("max_ratio"),
    ).localCheckpoint(eager=False)


@query(
    "ensemble_monitor_recommendations",
    oracle=f"""
    {_MON_BASE_SQL},
    fleet AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN avg_gw > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS garch_selected,
             CAST(SUM(CASE WHEN avg_ratio < {_MON_TARGET} THEN 1 ELSE 0 END)
               AS BIGINT) AS at_target,
             CAST(SUM(CASE WHEN avg_ratio >= {_MON_BASELINE} THEN 1 ELSE 0 END)
               AS BIGINT) AS regressing,
             AVG(avg_ratio - {_MON_TARGET}) AS gap_avg
      FROM tick
    )
    SELECT * FROM (
      SELECT 'HIGH' AS priority, 'model_selection' AS category,
             'garch_rarely_selected' AS rec_code,
             CAST(NULL AS BIGINT) AS user_id,
             CAST(garch_selected AS DOUBLE) AS metric_a,
             CAST(total AS DOUBLE) AS metric_b
      FROM fleet WHERE garch_selected < total * 0.3
      UNION ALL
      SELECT 'MEDIUM', 'performance', 'tickers_above_target', NULL,
             CAST(total - at_target AS DOUBLE), ROUND(gap_avg, 6)
      FROM fleet WHERE at_target < total
      UNION ALL
      SELECT 'CRITICAL', 'regression', 'tickers_regressing', NULL,
             CAST(regressing AS DOUBLE), CAST(total AS DOUBLE)
      FROM fleet WHERE regressing > 0
      UNION ALL
      SELECT 'MEDIUM', 'ticker_specific', 'garch_dominant_underperforming',
             user_id, ROUND(avg_gw, 6), ROUND(avg_ratio, 6)
      FROM tick WHERE avg_gw > 0.7 AND avg_ratio > 1.3
      UNION ALL
      SELECT 'LOW', 'ticker_specific', 'no_garch_underperforming',
             user_id, ROUND(avg_gw, 6), ROUND(avg_ratio, 6)
      FROM tick WHERE avg_gw < 0.1 AND avg_ratio > 1.4
      UNION ALL
      SELECT 'LOW', 'next_phase', 'begin_neural_phase', NULL,
             CAST(at_target AS DOUBLE), CAST(total AS DOUBLE)
      FROM fleet WHERE at_target >= total * 0.7
    )
    """,
)
def ensemble_monitor_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard's automated recommendation generator — reference
    `dashboard/live_ensemble_monitor.py:211-295`
    (`generate_recommendations`): fleet-level rules (GARCH selected in
    under 30% of tickers -> HIGH; any ticker above target -> MEDIUM with
    the average gap; any ticker regressing past the baseline ->
    CRITICAL; 70%+ at target -> the Phase-8 trigger) plus the two
    per-ticker rules (vol-model-dominant yet ratio > 1.3; vol-model
    absent yet ratio > 1.4). Interpolated prose becomes stable rec_codes
    with the numbers as metric columns. Every branch is a filtered
    SELECT over one fleet-aggregate row or the per-ticker stat block —
    the whole advisory engine is a UNION of predicates."""
    base = _monitor_tick_frame(spark, sf_dir)
    fleet = base.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("avg_gw") > 0.5).cast("long")).alias("garch_selected"),
        F.sum((F.col("avg_ratio") < _MON_TARGET).cast("long")).alias(
            "at_target"
        ),
        F.sum((F.col("avg_ratio") >= _MON_BASELINE).cast("long")).alias(
            "regressing"
        ),
        F.avg(F.col("avg_ratio") - _MON_TARGET).alias("gap_avg"),
    )
    nb = F.lit(None).cast("bigint")

    def fleet_rule(cond, priority, category, code, ma, mb):
        return fleet.filter(cond).select(
            F.lit(priority).alias("priority"),
            F.lit(category).alias("category"),
            F.lit(code).alias("rec_code"),
            nb.alias("user_id"),
            ma.cast("double").alias("metric_a"),
            mb.cast("double").alias("metric_b"),
        )

    r1 = fleet_rule(
        F.col("garch_selected") < F.col("total") * 0.3,
        "HIGH", "model_selection", "garch_rarely_selected",
        F.col("garch_selected"), F.col("total"),
    )
    r2 = fleet_rule(
        F.col("at_target") < F.col("total"),
        "MEDIUM", "performance", "tickers_above_target",
        F.col("total") - F.col("at_target"), F.round(F.col("gap_avg"), 6),
    )
    r3 = fleet_rule(
        F.col("regressing") > 0,
        "CRITICAL", "regression", "tickers_regressing",
        F.col("regressing"), F.col("total"),
    )
    r4 = base.filter((F.col("avg_gw") > 0.7) & (F.col("avg_ratio") > 1.3)).select(
        F.lit("MEDIUM").alias("priority"),
        F.lit("ticker_specific").alias("category"),
        F.lit("garch_dominant_underperforming").alias("rec_code"),
        F.col("user_id").cast("bigint").alias("user_id"),
        r6(F.col("avg_gw")).alias("metric_a"),
        r6(F.col("avg_ratio")).alias("metric_b"),
    )
    r5 = base.filter((F.col("avg_gw") < 0.1) & (F.col("avg_ratio") > 1.4)).select(
        F.lit("LOW").alias("priority"),
        F.lit("ticker_specific").alias("category"),
        F.lit("no_garch_underperforming").alias("rec_code"),
        F.col("user_id").cast("bigint").alias("user_id"),
        r6(F.col("avg_gw")).alias("metric_a"),
        r6(F.col("avg_ratio")).alias("metric_b"),
    )
    r6_ = fleet_rule(
        F.col("at_target") >= F.col("total") * 0.7,
        "LOW", "next_phase", "begin_neural_phase",
        F.col("at_target"), F.col("total"),
    )
    return r1.unionAll(r2).unionAll(r3).unionAll(r4).unionAll(r5).unionAll(r6_)


# ---------------------------------------------------------------------------
# Fleet forecast-audit gate (check_forecast_audits.py RMSE gate)
# ---------------------------------------------------------------------------

# Reference `scripts/check_forecast_audits.py`: per-audit ratio/violation
# extraction (`:1520-1599`), fleet aggregates + linear-interpolation
# percentiles (`:2163-2257`), recent-window checks (`:2520-2570`),
# warmup inconclusiveness (`:2572-2630`) and the KEEP / RESEARCH_ONLY /
# DISABLE_DEFAULT decision ladder (`:2651-2747`). Thresholds are the
# monitoring-config knobs pinned as engine constants and interpolated
# into BOTH engines. Each key's first audit window (audit_id = 0) is the
# ensemble warm-up: its ensemble metrics are absent, exercising the
# reference's ensemble_missing path (`:1548-1560`, metrics absent ->
# violation=False, excluded from the effective denominator but counted
# by the missing-rate gate).
_FAG_TOLERANCE = 0.10        # rmse_tolerance -> violation when ratio > 1.10
_FAG_MIN_LIFT_RMSE = 0.02    # min_lift_rmse_ratio -> lift when ratio < 0.98
_FAG_PROMO_MARGIN = 0.05     # promotion_margin -> margin lift when < 0.95
_FAG_MAX_MISSING = 0.35      # max_missing_ensemble_rate (each key warms up
                             # 1 of ~3 windows -> fleet missing ~0.30; the
                             # gate must not trip on structural warm-up)
_FAG_MAX_VIOL = 0.40         # max_violation_rate
_FAG_MIN_LIFT_FRACTION = 0.30
_FAG_WARMUP = 20             # max(min_effective_audits, holding_period)
_FAG_RECENT_REQUIRED = 10    # recent_window_audits
_FAG_RECENT_MAX_VIOL = 0.50  # recent_window_max_violation_rate
_FAG_RECENT_MAX_P90 = 1.25   # recent_window_max_p90_rmse_ratio


@query(
    "forecast_audit_fleet_gate",
    oracle=f"""
    {_AUDIT_SQL},
    rows AS (
      SELECT user_id, audit_id, recency,
             CASE WHEN audit_id = 0 THEN NULL ELSE ratio END AS ratio,
             CASE WHEN audit_id = 0 THEN 1 ELSE 0 END AS missing
      FROM r
    ),
    fleet AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(COUNT(ratio) AS BIGINT) AS effective,
             CAST(SUM(CASE WHEN ratio > 1.0 + {_FAG_TOLERANCE}
                           THEN 1 ELSE 0 END) AS BIGINT) AS viol,
             CAST(SUM(missing) AS BIGINT) AS miss,
             CAST(SUM(CASE WHEN ratio < 1.0 - {_FAG_MIN_LIFT_RMSE}
                           THEN 1 ELSE 0 END) AS BIGINT) AS lift_n,
             CAST(SUM(CASE WHEN ratio < 1.0 - {_FAG_PROMO_MARGIN}
                           THEN 1 ELSE 0 END) AS BIGINT) AS margin_n,
             QUANTILE_CONT(ratio, 0.1) AS p10,
             QUANTILE_CONT(ratio, 0.5) AS p50,
             QUANTILE_CONT(ratio, 0.9) AS p90
      FROM rows
    ),
    recent AS (
      SELECT CAST(COUNT(ratio) AS BIGINT) AS r_eff,
             CAST(SUM(CASE WHEN ratio > 1.0 + {_FAG_TOLERANCE}
                           THEN 1 ELSE 0 END) AS BIGINT) AS r_viol,
             QUANTILE_CONT(ratio, 0.9) AS r_p90
      FROM rows WHERE recency = 1
    ),
    g AS (
      SELECT f.*, r.r_eff, r.r_viol, r.r_p90,
             CAST(f.miss AS DOUBLE) / f.total AS missing_rate,
             CAST(f.viol AS DOUBLE) / f.effective AS viol_rate,
             CAST(f.lift_n AS DOUBLE) / f.effective AS lift_fraction,
             CAST(f.margin_n AS DOUBLE) / f.effective AS margin_lift_fraction,
             CAST(r.r_viol AS DOUBLE) / r.r_eff AS r_viol_rate
      FROM fleet f, recent r
    )
    SELECT total AS total_unique_audits,
           effective AS effective_audits,
           miss AS ensemble_missing_count,
           ROUND(missing_rate, 6) AS ensemble_missing_rate,
           viol AS violation_count,
           ROUND(viol_rate, 6) AS violation_rate,
           ROUND(lift_fraction, 6) AS lift_fraction,
           ROUND(margin_lift_fraction, 6) AS margin_lift_fraction,
           ROUND(p10, 6) AS ratio_p10,
           ROUND(p50, 6) AS ratio_p50,
           ROUND(p90, 6) AS ratio_p90,
           r_eff AS recent_effective_audits,
           ROUND(r_viol_rate, 6) AS recent_violation_rate,
           ROUND(r_p90, 6) AS recent_ratio_p90,
           CASE WHEN missing_rate > {_FAG_MAX_MISSING} THEN 'RESEARCH_ONLY'
                WHEN r_eff >= {_FAG_RECENT_REQUIRED}
                     AND r_viol_rate > {_FAG_RECENT_MAX_VIOL}
                THEN 'RESEARCH_ONLY'
                WHEN r_eff >= {_FAG_RECENT_REQUIRED}
                     AND r_p90 > {_FAG_RECENT_MAX_P90} THEN 'RESEARCH_ONLY'
                WHEN effective < {_FAG_WARMUP} THEN 'INCONCLUSIVE'
                WHEN lift_fraction < {_FAG_MIN_LIFT_FRACTION}
                THEN 'DISABLE_DEFAULT'
                WHEN viol_rate > {_FAG_MAX_VIOL} THEN 'RESEARCH_ONLY'
                WHEN margin_lift_fraction <= 0.0 THEN 'RESEARCH_ONLY'
                ELSE 'KEEP' END AS decision,
           CASE WHEN missing_rate > {_FAG_MAX_MISSING}
                THEN 'missing_ensemble_rate_exceeds_max'
                WHEN r_eff >= {_FAG_RECENT_REQUIRED}
                     AND r_viol_rate > {_FAG_RECENT_MAX_VIOL}
                THEN 'recent_violation_rate_exceeds_max'
                WHEN r_eff >= {_FAG_RECENT_REQUIRED}
                     AND r_p90 > {_FAG_RECENT_MAX_P90}
                THEN 'recent_p90_ratio_exceeds_max'
                WHEN effective < {_FAG_WARMUP}
                THEN 'insufficient_effective_audits'
                WHEN lift_fraction < {_FAG_MIN_LIFT_FRACTION}
                THEN 'insufficient_lift_vs_baseline'
                WHEN viol_rate > {_FAG_MAX_VIOL}
                THEN 'violation_rate_exceeds_max'
                WHEN margin_lift_fraction <= 0.0
                THEN 'no_lift_beyond_promotion_margin'
                ELSE 'ensemble_within_tolerance' END AS decision_reason
    FROM g
    """,
)
def forecast_audit_fleet_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fleet-level forecast-audit RMSE gate — reference
    `scripts/check_forecast_audits.py:1520-1599` (per-audit ratio and
    violation extraction), `:2163-2257` (fleet aggregates and the
    linear-interpolation ratio percentiles), `:2520-2570` (recent-window
    violation-rate and p90 checks, skipped while the recent cohort is
    under-filled), `:2572-2630` (warmup inconclusiveness) and
    `:2651-2747` (the decision ladder: insufficient holding-period lift
    -> DISABLE_DEFAULT, violation rate -> RESEARCH_ONLY, zero lift
    beyond the promotion margin -> RESEARCH_ONLY, else KEEP). One audit
    window = one audit file; each key's first window is the ensemble
    warm-up whose ensemble metrics are absent (the reference's
    ensemble_missing path `:1548-1560`: kept in the census for the
    missing-rate gate, excluded from the effective denominator). The
    recent cohort is each key's latest audit (per-user recency window —
    the reference's most-recent-files slice re-expressed without a
    global sort).

    Scale: per-key windows plus two bounded fleet aggregates (partial
    agg native) cross-joined as broadcast single-row scalars; exact
    percentiles run on the bounded (key x window) audit frame, never on
    raw rows. No UDF, no collect, no global row-ordering stage."""
    a = _audit_windows(spark, sf_dir)
    raw_ratio = F.col("r_e") / F.least("r_n", "r_3", "r_10")
    rows = a.select(
        "user_id",
        "audit_id",
        F.when(F.col("audit_id") == 0, F.lit(None).cast("double"))
        .otherwise(raw_ratio)
        .alias("ratio"),
        F.when(F.col("audit_id") == 0, 1).otherwise(0).alias("missing"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("audit_id").desc()))
        .alias("recency"),
    )
    viol = F.when(F.col("ratio") > 1.0 + _FAG_TOLERANCE, 1).otherwise(0)
    fleet = rows.agg(
        F.count(F.lit(1)).alias("total"),
        F.count("ratio").alias("effective"),
        F.sum(viol).alias("viol"),
        F.sum("missing").alias("miss"),
        F.sum(
            F.when(F.col("ratio") < 1.0 - _FAG_MIN_LIFT_RMSE, 1).otherwise(0)
        ).alias("lift_n"),
        F.sum(
            F.when(F.col("ratio") < 1.0 - _FAG_PROMO_MARGIN, 1).otherwise(0)
        ).alias("margin_n"),
        F.expr("percentile(ratio, 0.1)").alias("p10"),
        F.expr("percentile(ratio, 0.5)").alias("p50"),
        F.expr("percentile(ratio, 0.9)").alias("p90"),
    )
    recent = rows.filter(F.col("recency") == 1).agg(
        F.count("ratio").alias("r_eff"),
        F.sum(viol).alias("r_viol"),
        F.expr("percentile(ratio, 0.9)").alias("r_p90"),
    )
    g = (
        fleet.crossJoin(recent)
        .withColumn("missing_rate", F.col("miss").cast("double") / F.col("total"))
        .withColumn("viol_rate", F.col("viol").cast("double") / F.col("effective"))
        .withColumn(
            "lift_fraction", F.col("lift_n").cast("double") / F.col("effective")
        )
        .withColumn(
            "margin_lift_fraction",
            F.col("margin_n").cast("double") / F.col("effective"),
        )
        .withColumn(
            "r_viol_rate", F.col("r_viol").cast("double") / F.col("r_eff")
        )
    )
    recent_full = F.col("r_eff") >= _FAG_RECENT_REQUIRED
    arms = [
        (F.col("missing_rate") > _FAG_MAX_MISSING,
         "RESEARCH_ONLY", "missing_ensemble_rate_exceeds_max"),
        (recent_full & (F.col("r_viol_rate") > _FAG_RECENT_MAX_VIOL),
         "RESEARCH_ONLY", "recent_violation_rate_exceeds_max"),
        (recent_full & (F.col("r_p90") > _FAG_RECENT_MAX_P90),
         "RESEARCH_ONLY", "recent_p90_ratio_exceeds_max"),
        (F.col("effective") < _FAG_WARMUP,
         "INCONCLUSIVE", "insufficient_effective_audits"),
        (F.col("lift_fraction") < _FAG_MIN_LIFT_FRACTION,
         "DISABLE_DEFAULT", "insufficient_lift_vs_baseline"),
        (F.col("viol_rate") > _FAG_MAX_VIOL,
         "RESEARCH_ONLY", "violation_rate_exceeds_max"),
        (F.col("margin_lift_fraction") <= 0.0,
         "RESEARCH_ONLY", "no_lift_beyond_promotion_margin"),
    ]
    decision = F.lit("KEEP")
    reason = F.lit("ensemble_within_tolerance")
    for cond, dec, why in reversed(arms):
        decision = F.when(cond, dec).otherwise(decision)
        reason = F.when(cond, why).otherwise(reason)
    return g.select(
        F.col("total").alias("total_unique_audits"),
        F.col("effective").alias("effective_audits"),
        F.col("miss").cast("bigint").alias("ensemble_missing_count"),
        r6(F.col("missing_rate")).alias("ensemble_missing_rate"),
        F.col("viol").cast("bigint").alias("violation_count"),
        r6(F.col("viol_rate")).alias("violation_rate"),
        r6(F.col("lift_fraction")).alias("lift_fraction"),
        r6(F.col("margin_lift_fraction")).alias("margin_lift_fraction"),
        r6(F.col("p10")).alias("ratio_p10"),
        r6(F.col("p50")).alias("ratio_p50"),
        r6(F.col("p90")).alias("ratio_p90"),
        F.col("r_eff").alias("recent_effective_audits"),
        r6(F.col("r_viol_rate")).alias("recent_violation_rate"),
        r6(F.col("r_p90")).alias("recent_ratio_p90"),
        decision.alias("decision"),
        reason.alias("decision_reason"),
    )


# ---------------------------------------------------------------------------
# Semantic admission ladder + census (check_forecast_audits.py)
# ---------------------------------------------------------------------------

# Reference `scripts/check_forecast_audits.py`: `_derive_semantic_admission`
# (`:486-631`, the legacy-derived branch: ordered reason codes ->
# admissibility -> ELIGIBLE / ACCEPTED_NONELIGIBLE / QUARANTINED bucket),
# `_summarize_admission_entries` (`:455-485`, the census) and
# `_counts_toward_readiness_denominator` (`:387-405`). Entry attributes are
# derived from the events table: context from the event type, manifest
# verification from a portable md5 bucket (the reference verifies a sha256
# manifest — `:1278-1340`), duplicate conflicts from a real same-key
# density window, quarantine from the value clamp, production labeling
# from the user cohort, and NOT_DUE from the expected-close horizon
# (`compute_expected_close`, `:213-243`) against the corpus end.
_ADM_SQL = """
      SELECT e.event_id, e.user_id, e.event_type, e.value, e.ts,
             CAST(e.props->>'k' AS INTEGER) AS k,
             COUNT(*) OVER (PARTITION BY e.user_id, e.event_type,
                            CAST(e.ts AS DATE)) AS key_n,
             CASE WHEN e.event_type IN ('purchase', 'click') THEN 'TRADE'
                  WHEN e.event_type = 'error' THEN 'INVALID'
                  ELSE 'NON_TRADE' END AS context_type,
             CASE WHEN ('0x' || SUBSTR(MD5('manifest|' ||
                        CAST(e.event_id AS VARCHAR)), 1, 6))::BIGINT
                       / 16777216.0 < 0.05 THEN 'missing'
                  WHEN ('0x' || SUBSTR(MD5('manifest|' ||
                        CAST(e.event_id AS VARCHAR)), 1, 6))::BIGINT
                       / 16777216.0 < 0.10 THEN 'mismatch'
                  ELSE 'verified' END AS manifest_status,
             e.value > 250 AS quarantined,
             e.user_id % 10 <> 0 AS production_labeled,
             CAST(e.ts AS DATE) + ((CAST(e.props->>'k' AS INTEGER) % 7) + 1)
               > (SELECT CAST(MAX(ts) AS DATE) FROM events) AS not_due
      FROM events e
"""

_ADM_LADDER_SQL = f"""
    ent AS ({_ADM_SQL}),
    lad AS (
      SELECT event_id, user_id, context_type, manifest_status,
             CASE WHEN context_type = 'INVALID' THEN 'INVALID_CONTEXT'
                  WHEN context_type <> 'TRADE' THEN 'NON_TRADE_CONTEXT'
                  WHEN k IS NULL THEN 'OUTCOMES_NOT_LOADED'
                  WHEN not_due THEN 'NOT_DUE'
                  WHEN key_n > 2 THEN 'AMBIGUOUS'
                  ELSE 'MATCHED' END AS outcome_status,
             CAST(key_n > 2 AS INTEGER) AS duplicate_conflict,
             CAST(quarantined AS INTEGER) AS quarantined,
             CAST(production_labeled AS INTEGER) AS production_labeled,
             CONCAT_WS(',',
               CASE WHEN NOT production_labeled
                    THEN 'NOT_PRODUCTION_LABELED' END,
               CASE WHEN context_type <> 'TRADE'
                    THEN 'NON_TRADE_CONTEXT' END,
               CASE WHEN manifest_status <> 'verified'
                    THEN 'MANIFEST_' || UPPER(manifest_status) END,
               CASE WHEN key_n > 2 THEN 'DUPLICATE_CONFLICT' END,
               CASE WHEN quarantined THEN 'QUARANTINED' END) AS codes
      FROM ent
    ),
    adm AS (
      SELECT *, CAST(codes = '' AS INTEGER) AS admissible,
             CASE WHEN quarantined = 1 OR duplicate_conflict = 1
                  THEN 'QUARANTINED'
                  WHEN codes = '' THEN 'ELIGIBLE'
                  ELSE 'ACCEPTED_NONELIGIBLE' END AS gate_bucket,
             CASE WHEN codes = '' THEN 'READY'
                  ELSE COALESCE(NULLIF(codes, ''), 'NON_ELIGIBLE') END
               AS admission_reason_code,
             CASE WHEN codes = '' AND context_type = 'TRADE'
                       AND outcome_status
                           NOT IN ('INVALID_CONTEXT', 'NON_TRADE_CONTEXT',
                                   'OUTCOMES_NOT_LOADED', 'NOT_DUE')
                  THEN 1 ELSE 0 END AS counts_toward_readiness
      FROM lad
    )
"""


@query(
    "audit_admission_ladder",
    oracle=f"""
    WITH {_ADM_LADDER_SQL}
    SELECT event_id, user_id, context_type, manifest_status, outcome_status,
           duplicate_conflict, quarantined, production_labeled, gate_bucket,
           admission_reason_code, admissible, counts_toward_readiness
    FROM adm
    """,
)
@session_frame_cache
def audit_admission_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-grain semantic-admission ladder — reference
    `scripts/check_forecast_audits.py:486-631` (legacy-derived branch):
    ordered reason codes (NOT_PRODUCTION_LABELED -> NON_TRADE_CONTEXT ->
    MANIFEST_* -> DUPLICATE_CONFLICT -> QUARANTINED), admissibility =
    accepted with zero codes, bucket ladder (quarantine/duplicate ->
    QUARANTINED, admissible -> ELIGIBLE, else ACCEPTED_NONELIGIBLE), the
    outcome-status classification (`_classify_execution_rejection` family
    `:162-243`) and the readiness-denominator predicate (`:387-405`:
    gate-eligible TRADE entries whose outcome status is conclusive).

    Scale: one same-key density window + pure column algebra; the
    corpus-end date is a broadcast scalar. No UDF, no collect."""
    from ..functions.scalars import hash_unit_interval

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    wkey = Window.partitionBy("user_id", "event_type", F.to_date("ts"))
    mx = ev.agg(F.max(F.to_date("ts")).alias("max_d"))
    u = hash_unit_interval(F.lit("manifest"), F.col("event_id"))
    ent = ev.crossJoin(F.broadcast(mx)).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        k.alias("k"),
        F.count(F.lit(1)).over(wkey).alias("key_n"),
        F.when(F.col("event_type").isin("purchase", "click"), "TRADE")
        .when(F.col("event_type") == "error", "INVALID")
        .otherwise("NON_TRADE")
        .alias("context_type"),
        F.when(u < 0.05, "missing")
        .when(u < 0.10, "mismatch")
        .otherwise("verified")
        .alias("manifest_status"),
        (F.col("value") > 250).alias("quarantined"),
        (F.col("user_id") % 10 != 0).alias("production_labeled"),
        (
            F.date_add(F.to_date("ts"), (k % 7) + 1) > F.col("max_d")
        ).alias("not_due"),
    )
    outcome = (
        F.when(F.col("context_type") == "INVALID", "INVALID_CONTEXT")
        .when(F.col("context_type") != "TRADE", "NON_TRADE_CONTEXT")
        .when(F.col("k").isNull(), "OUTCOMES_NOT_LOADED")
        .when(F.col("not_due"), "NOT_DUE")
        .when(F.col("key_n") > 2, "AMBIGUOUS")
        .otherwise("MATCHED")
    )
    codes = F.concat_ws(
        ",",
        F.when(~F.col("production_labeled"), "NOT_PRODUCTION_LABELED"),
        F.when(F.col("context_type") != "TRADE", "NON_TRADE_CONTEXT"),
        F.when(
            F.col("manifest_status") != "verified",
            F.concat(F.lit("MANIFEST_"), F.upper("manifest_status")),
        ),
        F.when(F.col("key_n") > 2, "DUPLICATE_CONFLICT"),
        F.when(F.col("quarantined"), "QUARANTINED"),
    )
    lad = ent.select(
        "event_id",
        "user_id",
        "context_type",
        "manifest_status",
        outcome.alias("outcome_status"),
        (F.col("key_n") > 2).cast("int").alias("duplicate_conflict"),
        F.col("quarantined").cast("int").alias("quarantined"),
        F.col("production_labeled").cast("int").alias("production_labeled"),
        codes.alias("codes"),
    )
    admissible = (F.col("codes") == "").cast("int")
    return lad.select(
        "event_id",
        "user_id",
        "context_type",
        "manifest_status",
        "outcome_status",
        "duplicate_conflict",
        "quarantined",
        "production_labeled",
        F.when(
            (F.col("quarantined") == 1) | (F.col("duplicate_conflict") == 1),
            "QUARANTINED",
        )
        .when(F.col("codes") == "", "ELIGIBLE")
        .otherwise("ACCEPTED_NONELIGIBLE")
        .alias("gate_bucket"),
        F.when(F.col("codes") == "", "READY")
        .otherwise(F.coalesce(F.nullif("codes", F.lit("")), F.lit("NON_ELIGIBLE")))
        .alias("admission_reason_code"),
        admissible.alias("admissible"),
        F.when(
            (F.col("codes") == "")
            & (F.col("context_type") == "TRADE")
            & ~F.col("outcome_status").isin(
                "INVALID_CONTEXT",
                "NON_TRADE_CONTEXT",
                "OUTCOMES_NOT_LOADED",
                "NOT_DUE",
            ),
            1,
        )
        .otherwise(0)
        .alias("counts_toward_readiness"),
    )


@query(
    "audit_admission_census",
    oracle=f"""
    WITH {_ADM_LADDER_SQL}
    SELECT CAST(COUNT(*) AS BIGINT) AS total_entries,
           CAST(COUNT(*) AS BIGINT) AS accepted_records,
           CAST(SUM(admissible) AS BIGINT) AS eligible_records,
           CAST(SUM(CASE WHEN gate_bucket = 'ACCEPTED_NONELIGIBLE'
                    THEN 1 ELSE 0 END) AS BIGINT)
             AS accepted_noneligible_records,
           CAST(SUM(CASE WHEN gate_bucket = 'QUARANTINED' THEN 1 ELSE 0 END)
             AS BIGINT) AS quarantined_records,
           CAST(SUM(duplicate_conflict) AS BIGINT) AS duplicate_conflicts,
           CAST(SUM(CASE WHEN manifest_status = 'missing' THEN 1 ELSE 0 END)
             AS BIGINT) AS manifest_missing,
           CAST(SUM(CASE WHEN manifest_status = 'mismatch' THEN 1 ELSE 0 END)
             AS BIGINT) AS manifest_mismatch,
           CAST(SUM(counts_toward_readiness) AS BIGINT)
             AS readiness_denominator,
           ROUND(CAST(SUM(counts_toward_readiness) AS DOUBLE) / COUNT(*), 6)
             AS readiness_fraction
    FROM adm
    """,
)
def audit_admission_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The admission census — reference
    `scripts/check_forecast_audits.py:455-485`
    (`_summarize_admission_entries`: accepted / eligible /
    accepted-noneligible / quarantined / duplicate-conflict counts plus
    the manifest-verification tallies `:1321-1340`) and the readiness
    denominator over the same entries (`:387-405`). Single bounded
    aggregation over the entry-grain ladder frame."""
    lad = audit_admission_ladder(spark, sf_dir)
    return lad.agg(
        F.count(F.lit(1)).alias("total_entries"),
        F.count(F.lit(1)).alias("accepted_records"),
        F.sum("admissible").cast("bigint").alias("eligible_records"),
        F.sum((F.col("gate_bucket") == "ACCEPTED_NONELIGIBLE").cast("int"))
        .cast("bigint")
        .alias("accepted_noneligible_records"),
        F.sum((F.col("gate_bucket") == "QUARANTINED").cast("int"))
        .cast("bigint")
        .alias("quarantined_records"),
        F.sum("duplicate_conflict").cast("bigint").alias("duplicate_conflicts"),
        F.sum((F.col("manifest_status") == "missing").cast("int"))
        .cast("bigint")
        .alias("manifest_missing"),
        F.sum((F.col("manifest_status") == "mismatch").cast("int"))
        .cast("bigint")
        .alias("manifest_mismatch"),
        F.sum("counts_toward_readiness")
        .cast("bigint")
        .alias("readiness_denominator"),
        r6(
            F.sum("counts_toward_readiness").cast("double")
            / F.count(F.lit(1))
        ).alias("readiness_fraction"),
    )


# ---------------------------------------------------------------------------
# Unified 4-layer model-improvement checker
# ---------------------------------------------------------------------------

# Reference `scripts/check_model_improvement.py`: layer 1 forecast quality
# (`:298-653`: lift fractions, SAMOSSA-style DA=0 anomaly, coverage-ratio
# escalation, normal-CI lift significance arms), layer 2 gate status
# (`:655-754`, surface-only pass/fail census), layer 3 trade quality
# (`:756-882`: win rate / profit factor / interpretation), layer 4
# calibration (`:882-1010`: tier ladder + Brier/ECE thresholds). The
# reference bootstraps the lift CI; the engine uses the closed-form
# normal approximation mean +/- 1.96*sd/sqrt(n) (deterministic on both
# engines) — the spans-zero / definitively-negative arms are identical.
_MIL_LIFT_WARN = 0.05
_MIL_LIFT_FAIL = 0.01
_MIL_DA_ZERO_WARN = 0.40
_MIL_MIN_WINDOWS_FAIL = 100
_MIL_COVERAGE_N_WARN = 50
_MIL_COVERAGE_RATIO_WARN = 0.20
_MIL_COVERAGE_RATIO_FAIL = 0.05
_MIL_WR_WARN = 0.45
_MIL_PF_WARN = 1.30
_MIL_ECE_WARN = 0.15
_MIL_MIN_PAIRS = 50

from .queries_trades import _EXQ_SQL as _EXQ_FULL_SQL

# the exit-quality CTE chain without its leading WITH, so it can splice
# into a larger WITH list
_EXQ_ORACLE_BODY = _EXQ_FULL_SQL.strip()[len("WITH"):].strip()


@query(
    "model_improvement_layers",
    oracle=f"""
    {_AUDIT_SQL},
    mil_rows AS (
      SELECT r.*,
             CASE WHEN r.audit_id = 0 THEN NULL ELSE ratio END AS mratio,
             a2.da10
      FROM r JOIN (
        SELECT user_id,
               CAST(FLOOR((rn - 11) / {_ESAFE_BLOCK}) AS INT) AS audit_id,
               AVG(CASE WHEN (f_ma10 - prev) * (value - prev) > 0
                        THEN 1.0 ELSE 0.0 END) AS da10
        FROM f
        GROUP BY user_id, CAST(FLOOR((rn - 11) / {_ESAFE_BLOCK}) AS INT)
        HAVING COUNT(*) = {_ESAFE_BLOCK}
      ) a2 ON a2.user_id = r.user_id AND a2.audit_id = r.audit_id
    ),
    l1 AS (
      SELECT n_total, n_used, coverage_ratio, lift_global, lift_recent,
             da_zero_pct,
             lift_mean - 1.96 * lift_sd / SQRT(n_used) AS ci_low,
             lift_mean + 1.96 * lift_sd / SQRT(n_used) AS ci_high
      FROM (
        SELECT COUNT(*) AS n_total,
               COUNT(mratio) AS n_used,
               CAST(COUNT(mratio) AS DOUBLE) / COUNT(*) AS coverage_ratio,
               AVG(CASE WHEN mratio < 1.0 - {_ESAFE_MIN_LIFT_RMSE}
                        THEN 1.0 WHEN mratio IS NOT NULL THEN 0.0 END)
                 AS lift_global,
               AVG(CASE WHEN recency = 1
                             AND mratio < 1.0 - {_ESAFE_MIN_LIFT_RMSE}
                        THEN 1.0 WHEN recency = 1 AND mratio IS NOT NULL
                        THEN 0.0 END) AS lift_recent,
               AVG(CASE WHEN mratio IS NOT NULL AND da10 = 0 THEN 1.0
                        WHEN mratio IS NOT NULL THEN 0.0 END) AS da_zero_pct,
               AVG(CASE WHEN mratio IS NOT NULL THEN 1.0 - mratio END)
                 AS lift_mean,
               STDDEV_SAMP(CASE WHEN mratio IS NOT NULL
                           THEN 1.0 - mratio END) AS lift_sd
        FROM mil_rows
      )
    ),
    l1row AS (
      SELECT 1 AS layer, 'forecast_quality' AS layer_name,
             CASE WHEN (coverage_ratio < {_MIL_COVERAGE_RATIO_FAIL}
                        AND n_used >= 50)
                       OR (n_used >= {_MIL_MIN_WINDOWS_FAIL}
                           AND lift_global < {_MIL_LIFT_FAIL})
                       OR (n_used >= 20 AND ci_high < 0.0) THEN 'FAIL'
                  WHEN lift_global < {_MIL_LIFT_WARN}
                       OR da_zero_pct > {_MIL_DA_ZERO_WARN}
                       OR n_used < {_MIL_COVERAGE_N_WARN}
                       OR coverage_ratio < {_MIL_COVERAGE_RATIO_WARN}
                       OR (n_used >= 20 AND ci_low <= 0.0 AND ci_high >= 0.0)
                  THEN 'WARN' ELSE 'PASS' END AS status,
             ROUND(lift_global, 6) AS metric_a,
             ROUND(lift_recent, 6) AS metric_b,
             ROUND(da_zero_pct, 6) AS metric_c,
             ROUND(coverage_ratio, 6) AS metric_d,
             CONCAT_WS(',',
               CASE WHEN coverage_ratio < {_MIL_COVERAGE_RATIO_FAIL}
                         AND n_used >= 50 THEN 'coverage_fail' END,
               CASE WHEN n_used >= {_MIL_MIN_WINDOWS_FAIL}
                         AND lift_global < {_MIL_LIFT_FAIL}
                    THEN 'lift_global_fail' END,
               CASE WHEN n_used >= 20 AND ci_high < 0.0
                    THEN 'lift_ci_negative' END,
               CASE WHEN lift_global < {_MIL_LIFT_WARN}
                    THEN 'lift_global_warn' END,
               CASE WHEN da_zero_pct > {_MIL_DA_ZERO_WARN}
                    THEN 'da_zero_warn' END,
               CASE WHEN n_used < {_MIL_COVERAGE_N_WARN}
                    THEN 'low_window_count' END,
               CASE WHEN coverage_ratio < {_MIL_COVERAGE_RATIO_WARN}
                    THEN 'coverage_warn' END,
               CASE WHEN n_used >= 20 AND ci_low <= 0.0 AND ci_high >= 0.0
                    THEN 'lift_ci_spans_zero' END) AS reasons
      FROM l1
    ),
    l2g AS (
      SELECT AVG(CASE WHEN value <= 0 THEN 1.0 ELSE 0.0 END) AS nonpos_rate,
             AVG(CASE WHEN CAST(props->>'k' AS INTEGER) IS NULL
                      THEN 1.0 ELSE 0.0 END) AS missing_rate,
             COUNT(*) AS n_rows
      FROM events
    ),
    l2o AS (
      SELECT AVG(CASE WHEN ABS(e.value - m.mu) > 3 * m.sd
                      THEN 1.0 ELSE 0.0 END) AS outlier_rate
      FROM events e JOIN (
        SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sd
        FROM events GROUP BY event_type
      ) m ON m.event_type = e.event_type
    ),
    l2 AS (
      SELECT (CASE WHEN nonpos_rate = 0 THEN 1 ELSE 0 END
              + CASE WHEN missing_rate < 0.05 THEN 1 ELSE 0 END
              + CASE WHEN outlier_rate < 0.01 THEN 1 ELSE 0 END
              + CASE WHEN n_rows >= 100 THEN 1 ELSE 0 END) AS passed,
             nonpos_rate, missing_rate, outlier_rate, n_rows
      FROM l2g, l2o
    ),
    l2row AS (
      SELECT 2 AS layer, 'gate_status' AS layer_name,
             CASE WHEN passed < 4 THEN 'FAIL' ELSE 'PASS' END AS status,
             CAST(4 AS DOUBLE) AS metric_a,
             CAST(passed AS DOUBLE) AS metric_b,
             CAST(4 - passed AS DOUBLE) AS metric_c,
             ROUND(outlier_rate, 6) AS metric_d,
             CONCAT_WS(',',
               CASE WHEN nonpos_rate > 0 THEN 'positivity_gate' END,
               CASE WHEN missing_rate >= 0.05 THEN 'missing_gate' END,
               CASE WHEN outlier_rate >= 0.01 THEN 'outlier_gate' END,
               CASE WHEN n_rows < 100 THEN 'volume_gate' END) AS reasons
      FROM l2
    ),
    {_EXQ_ORACLE_BODY},
    l3 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_trades,
             AVG(CAST(is_winner AS DOUBLE)) AS win_rate,
             SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END)
               / NULLIF(SUM(CASE WHEN pnl < 0 THEN -pnl ELSE 0 END), 0)
               AS profit_factor,
             SUM(pnl) AS total_pnl,
             AVG(CASE WHEN exit_reason = 'stop_loss' THEN 1.0 ELSE 0.0 END)
               AS stop_pct,
             AVG(CASE WHEN exit_reason = 'time_exit' THEN 1.0 ELSE 0.0 END)
               AS time_pct,
             AVG(CASE WHEN exit_reason = 'time_exit'
                      THEN CAST(is_winner AS DOUBLE) END) AS time_wr
      FROM tr
    ),
    l3row AS (
      SELECT 3 AS layer, 'trade_quality' AS layer_name,
             CASE WHEN win_rate < {_MIL_WR_WARN}
                       OR profit_factor < {_MIL_PF_WARN}
                       OR (CASE WHEN stop_pct > 0.40 THEN 'stop_too_tight'
                                WHEN time_pct > 0.40
                                     AND COALESCE(time_wr, 0.5) < 0.45
                                THEN 'holding_too_short'
                                ELSE 'mix' END) <> 'mix'
                  THEN 'WARN' ELSE 'PASS' END AS status,
             ROUND(win_rate, 6) AS metric_a,
             ROUND(profit_factor, 6) AS metric_b,
             ROUND(total_pnl, 6) AS metric_c,
             CAST(n_trades AS DOUBLE) AS metric_d,
             CONCAT_WS(',',
               CASE WHEN win_rate < {_MIL_WR_WARN} THEN 'low_win_rate' END,
               CASE WHEN profit_factor < {_MIL_PF_WARN}
                    THEN 'low_profit_factor' END,
               CASE WHEN (CASE WHEN stop_pct > 0.40 THEN 'stop_too_tight'
                               WHEN time_pct > 0.40
                                    AND COALESCE(time_wr, 0.5) < 0.45
                               THEN 'holding_too_short'
                               ELSE 'mix' END) <> 'mix'
                    THEN 'exit_interpretation' END) AS reasons
      FROM l3
    ),
    cal_s AS ({_S_SQL}),
    cal_f AS (
      SELECT user_id, rn, value,
             AVG(value) OVER w20 AS ma20,
             STDDEV_SAMP(value) OVER w20 AS sd20,
             COUNT(*) OVER w20 AS n20,
             LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY rn)
               AS next_value
      FROM cal_s
      WINDOW w20 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    cal_p AS (
      SELECT ROUND(1.0 / (1.0 + EXP(-ROUND((value - ma20)
                                           / NULLIF(sd20, 0.0), 6))), 6)
               AS conf,
             CASE WHEN next_value > value THEN 1.0 ELSE 0.0 END AS outcome
      FROM cal_f
      WHERE n20 = 20 AND next_value IS NOT NULL AND sd20 > 0
    ),
    cal_b AS (
      SELECT LEAST(CAST(FLOOR(conf * 10) AS INT), 9) AS bin,
             COUNT(*) AS bn, AVG(conf) AS avg_conf, AVG(outcome) AS avg_out
      FROM cal_p GROUP BY 1
    ),
    l4 AS (
      SELECT (SELECT COUNT(*) FROM cal_p) AS n_pairs,
             (SELECT AVG((conf - outcome) * (conf - outcome)) FROM cal_p)
               AS brier,
             SUM(CAST(bn AS DOUBLE) / (SELECT COUNT(*) FROM cal_p)
                 * ABS(avg_conf - avg_out)) AS ece
      FROM cal_b
    ),
    l4row AS (
      SELECT 4 AS layer, 'calibration' AS layer_name,
             CASE WHEN n_pairs = 0 THEN 'FAIL'
                  WHEN ece > {_MIL_ECE_WARN} OR n_pairs < {_MIL_MIN_PAIRS}
                  THEN 'WARN' ELSE 'PASS' END AS status,
             ROUND(brier, 6) AS metric_a,
             ROUND(ece, 6) AS metric_b,
             CAST(n_pairs AS DOUBLE) AS metric_c,
             CAST(NULL AS DOUBLE) AS metric_d,
             CONCAT_WS(',',
               CASE WHEN n_pairs = 0 THEN 'tier_inactive' END,
               CASE WHEN ece > {_MIL_ECE_WARN} THEN 'high_ece' END,
               CASE WHEN n_pairs > 0 AND n_pairs < {_MIL_MIN_PAIRS}
                    THEN 'few_pairs' END) AS reasons
      FROM l4
    )
    SELECT * FROM l1row UNION ALL SELECT * FROM l2row
    UNION ALL SELECT * FROM l3row UNION ALL SELECT * FROM l4row
    """,
)
def model_improvement_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified 4-layer model-improvement health checker — reference
    `scripts/check_model_improvement.py`: layer 1 forecast quality
    (`:298-653`: global/recent lift fractions vs the 0.98 lift threshold,
    DA=0 anomaly share, coverage-ratio WARN/FAIL escalation, lift-CI
    spans-zero and definitively-negative arms — the reference bootstraps
    the CI, the engine's is the closed-form normal approximation), layer
    2 gate status as a surface-only pass/fail census over the engine's
    P2-P5 data-quality gates (`:655-754`), layer 3 trade quality over the
    exit-quality trade frame (`:756-882`), layer 4 calibration with
    Brier + 10-bin ECE of the logistic momentum confidence (`:882-1010`).
    One row per layer: status PASS/WARN/FAIL + four generic metric slots
    + the comma-joined reason codes.

    Scale: every layer is a bounded aggregation (audit windows, gate
    census, trade lots, calibration bins); the union is 4 rows. No UDF,
    no collect."""
    from .queries_trades import _exit_trades_frame

    # layer 1 — audit-window frame with per-window MA10 direction accuracy
    f = _baseline_forecasts(spark, sf_dir)

    def rmse(pred):
        return F.sqrt(F.avg(F.pow(F.col("value") - pred, 2)))

    a = (
        f.withColumn(
            "audit_id", F.floor((F.col("rn") - 11) / _ESAFE_BLOCK).cast("int")
        )
        .groupBy("user_id", "audit_id")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            rmse(F.col("prev")).alias("r_n"),
            rmse(F.col("f_ma3")).alias("r_3"),
            rmse(F.col("f_ma10")).alias("r_10"),
            rmse((F.col("prev") + F.col("f_ma3") + F.col("f_ma10")) / 3.0).alias(
                "r_e"
            ),
            F.avg(
                F.when(
                    (F.col("f_ma10") - F.col("prev"))
                    * (F.col("value") - F.col("prev"))
                    > 0,
                    1.0,
                ).otherwise(0.0)
            ).alias("da10"),
        )
        .filter(F.col("bn") == _ESAFE_BLOCK)
    )
    ratio = F.col("r_e") / F.least("r_n", "r_3", "r_10")
    rows = a.select(
        "user_id",
        "audit_id",
        "da10",
        F.when(F.col("audit_id") == 0, F.lit(None).cast("double"))
        .otherwise(ratio)
        .alias("mratio"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("audit_id").desc()))
        .alias("recency"),
    )
    lift = F.when(F.col("mratio") < 1.0 - _ESAFE_MIN_LIFT_RMSE, 1.0).when(
        F.col("mratio").isNotNull(), 0.0
    )
    l1 = rows.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("mratio").alias("n_used"),
        F.avg(lift).alias("lift_global"),
        F.avg(F.when(F.col("recency") == 1, lift)).alias("lift_recent"),
        F.avg(
            F.when(F.col("mratio").isNotNull() & (F.col("da10") == 0), 1.0)
            .when(F.col("mratio").isNotNull(), 0.0)
        ).alias("da_zero_pct"),
        F.avg(1.0 - F.col("mratio")).alias("lift_mean"),
        F.stddev_samp(1.0 - F.col("mratio")).alias("lift_sd"),
    ).select(
        "*",
        (F.col("n_used").cast("double") / F.col("n_total")).alias(
            "coverage_ratio"
        ),
        (
            F.col("lift_mean")
            - 1.96 * F.col("lift_sd") / F.sqrt(F.col("n_used"))
        ).alias("ci_low"),
        (
            F.col("lift_mean")
            + 1.96 * F.col("lift_sd") / F.sqrt(F.col("n_used"))
        ).alias("ci_high"),
    )
    cov_fail = (F.col("coverage_ratio") < _MIL_COVERAGE_RATIO_FAIL) & (
        F.col("n_used") >= 50
    )
    lift_fail = (F.col("n_used") >= _MIL_MIN_WINDOWS_FAIL) & (
        F.col("lift_global") < _MIL_LIFT_FAIL
    )
    ci_neg = (F.col("n_used") >= 20) & (F.col("ci_high") < 0.0)
    lift_warn = F.col("lift_global") < _MIL_LIFT_WARN
    da_warn = F.col("da_zero_pct") > _MIL_DA_ZERO_WARN
    n_warn = F.col("n_used") < _MIL_COVERAGE_N_WARN
    cov_warn = F.col("coverage_ratio") < _MIL_COVERAGE_RATIO_WARN
    ci_span = (
        (F.col("n_used") >= 20)
        & (F.col("ci_low") <= 0.0)
        & (F.col("ci_high") >= 0.0)
    )
    l1row = l1.select(
        F.lit(1).alias("layer"),
        F.lit("forecast_quality").alias("layer_name"),
        F.when(cov_fail | lift_fail | ci_neg, "FAIL")
        .when(lift_warn | da_warn | n_warn | cov_warn | ci_span, "WARN")
        .otherwise("PASS")
        .alias("status"),
        r6(F.col("lift_global")).alias("metric_a"),
        r6(F.col("lift_recent")).alias("metric_b"),
        r6(F.col("da_zero_pct")).alias("metric_c"),
        r6(F.col("coverage_ratio")).alias("metric_d"),
        F.concat_ws(
            ",",
            F.when(cov_fail, "coverage_fail"),
            F.when(lift_fail, "lift_global_fail"),
            F.when(ci_neg, "lift_ci_negative"),
            F.when(lift_warn, "lift_global_warn"),
            F.when(da_warn, "da_zero_warn"),
            F.when(n_warn, "low_window_count"),
            F.when(cov_warn, "coverage_warn"),
            F.when(ci_span, "lift_ci_spans_zero"),
        ).alias("reasons"),
    )

    # layer 2 — data-quality gate census over events
    ev = load_table(spark, sf_dir, "events")
    kcol = F.get_json_object("props", "$.k").cast("int")
    g1 = ev.agg(
        F.avg(F.when(F.col("value") <= 0, 1.0).otherwise(0.0)).alias(
            "nonpos_rate"
        ),
        F.avg(F.when(kcol.isNull(), 1.0).otherwise(0.0)).alias("missing_rate"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    m = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    g2 = (
        ev.join(m, "event_type")
        .agg(
            F.avg(
                F.when(
                    F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sd"), 1.0
                ).otherwise(0.0)
            ).alias("outlier_rate")
        )
    )
    l2 = g1.crossJoin(g2).select(
        "*",
        (
            F.when(F.col("nonpos_rate") == 0, 1).otherwise(0)
            + F.when(F.col("missing_rate") < 0.05, 1).otherwise(0)
            + F.when(F.col("outlier_rate") < 0.01, 1).otherwise(0)
            + F.when(F.col("n_rows") >= 100, 1).otherwise(0)
        ).alias("passed"),
    )
    l2row = l2.select(
        F.lit(2).alias("layer"),
        F.lit("gate_status").alias("layer_name"),
        F.when(F.col("passed") < 4, "FAIL").otherwise("PASS").alias("status"),
        F.lit(4.0).alias("metric_a"),
        F.col("passed").cast("double").alias("metric_b"),
        (4 - F.col("passed")).cast("double").alias("metric_c"),
        r6(F.col("outlier_rate")).alias("metric_d"),
        F.concat_ws(
            ",",
            F.when(F.col("nonpos_rate") > 0, "positivity_gate"),
            F.when(F.col("missing_rate") >= 0.05, "missing_gate"),
            F.when(F.col("outlier_rate") >= 0.01, "outlier_gate"),
            F.when(F.col("n_rows") < 100, "volume_gate"),
        ).alias("reasons"),
    )

    # layer 3 — trade quality over the exit-quality frame
    tr = _exit_trades_frame(spark, sf_dir)
    iw = F.col("is_winner").cast("double")
    l3 = tr.agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.avg(iw).alias("win_rate"),
        (
            F.sum(F.when(F.col("pnl") > 0, F.col("pnl")).otherwise(0.0))
            / F.nullif(
                F.sum(F.when(F.col("pnl") < 0, -F.col("pnl")).otherwise(0.0)),
                F.lit(0.0),
            )
        ).alias("profit_factor"),
        F.sum("pnl").alias("total_pnl"),
        F.avg(
            F.when(F.col("exit_reason") == "stop_loss", 1.0).otherwise(0.0)
        ).alias("stop_pct"),
        F.avg(
            F.when(F.col("exit_reason") == "time_exit", 1.0).otherwise(0.0)
        ).alias("time_pct"),
        F.avg(F.when(F.col("exit_reason") == "time_exit", iw)).alias("time_wr"),
    )
    interp = (
        F.when(F.col("stop_pct") > 0.40, "stop_too_tight")
        .when(
            (F.col("time_pct") > 0.40)
            & (F.coalesce(F.col("time_wr"), F.lit(0.5)) < 0.45),
            "holding_too_short",
        )
        .otherwise("mix")
    )
    wr_warn = F.col("win_rate") < _MIL_WR_WARN
    pf_warn = F.col("profit_factor") < _MIL_PF_WARN
    in_warn = interp != "mix"
    l3row = l3.select(
        F.lit(3).alias("layer"),
        F.lit("trade_quality").alias("layer_name"),
        F.when(wr_warn | pf_warn | in_warn, "WARN")
        .otherwise("PASS")
        .alias("status"),
        r6(F.col("win_rate")).alias("metric_a"),
        r6(F.col("profit_factor")).alias("metric_b"),
        r6(F.col("total_pnl")).alias("metric_c"),
        F.col("n_trades").cast("double").alias("metric_d"),
        F.concat_ws(
            ",",
            F.when(wr_warn, "low_win_rate"),
            F.when(pf_warn, "low_profit_factor"),
            F.when(in_warn, "exit_interpretation"),
        ).alias("reasons"),
    )

    # layer 4 — calibration of the logistic momentum confidence
    w20 = _w((-19, 0))
    calf = _series(spark, sf_dir).select(
        "user_id",
        "rn",
        "value",
        F.avg("value").over(w20).alias("ma20"),
        F.stddev_samp("value").over(w20).alias("sd20"),
        F.count(F.lit(1)).over(w20).alias("n20"),
        F.lead("value", 1).over(_w()).alias("next_value"),
    )
    z = F.round(
        (F.col("value") - F.col("ma20")) / F.nullif(F.col("sd20"), F.lit(0.0)),
        6,
    )
    calp = calf.filter(
        (F.col("n20") == 20)
        & F.col("next_value").isNotNull()
        & (F.col("sd20") > 0)
    ).select(
        F.round(1.0 / (1.0 + F.exp(-z)), 6).alias("conf"),
        F.when(F.col("next_value") > F.col("value"), 1.0)
        .otherwise(0.0)
        .alias("outcome"),
    )
    calb = calp.groupBy(
        F.least(F.floor(F.col("conf") * 10).cast("int"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("bn"),
        F.avg("conf").alias("avg_conf"),
        F.avg("outcome").alias("avg_out"),
    )
    tot = calp.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg(
            (F.col("conf") - F.col("outcome"))
            * (F.col("conf") - F.col("outcome"))
        ).alias("brier"),
    )
    l4 = calb.crossJoin(F.broadcast(tot)).agg(
        F.any_value("n_pairs").alias("n_pairs"),
        F.any_value("brier").alias("brier"),
        F.sum(
            F.col("bn").cast("double")
            / F.col("n_pairs")
            * F.abs(F.col("avg_conf") - F.col("avg_out"))
        ).alias("ece"),
    )
    l4row = l4.select(
        F.lit(4).alias("layer"),
        F.lit("calibration").alias("layer_name"),
        F.when(F.col("n_pairs") == 0, "FAIL")
        .when(
            (F.col("ece") > _MIL_ECE_WARN) | (F.col("n_pairs") < _MIL_MIN_PAIRS),
            "WARN",
        )
        .otherwise("PASS")
        .alias("status"),
        r6(F.col("brier")).alias("metric_a"),
        r6(F.col("ece")).alias("metric_b"),
        F.col("n_pairs").cast("double").alias("metric_c"),
        F.lit(None).cast("double").alias("metric_d"),
        F.concat_ws(
            ",",
            F.when(F.col("n_pairs") == 0, "tier_inactive"),
            F.when(F.col("ece") > _MIL_ECE_WARN, "high_ece"),
            F.when(
                (F.col("n_pairs") > 0) & (F.col("n_pairs") < _MIL_MIN_PAIRS),
                "few_pairs",
            ),
        ).alias("reasons"),
    )
    return l1row.unionByName(l2row).unionByName(l3row).unionByName(l4row)


# ---------------------------------------------------------------------------
# Data-sufficiency monitor
# ---------------------------------------------------------------------------

# Reference `scripts/data_sufficiency_monitor.py:33-247`: layer-3 trade
# stats vs the R3 hard gates and the 50-trade statistical target,
# layer-1 audit coverage vs the 50-window / 20%-ratio targets, the
# advisory lift-CI arm, the per-ticker weak census (>=3 trades with
# win rate < 30%) and the SUFFICIENT / INSUFFICIENT verdict (sufficient
# iff no recommendation fires).
_DSM_TARGET_TRADES = 50
_DSM_TARGET_COVERAGE = 0.20
_DSM_TARGET_N_USED = 50
_DSM_R3_TRADES = 20
_DSM_R3_WR = 0.45
_DSM_R3_PF = 1.30
_DSM_WEAK_WR = 0.30
_DSM_WEAK_N = 3


@query(
    "data_sufficiency_report",
    oracle=f"""
    {_AUDIT_SQL},
    arow AS (
      SELECT user_id, audit_id, recency,
             CASE WHEN audit_id = 0 THEN NULL ELSE ratio END AS mratio
      FROM r
    ),
    l1 AS (
      SELECT CAST(COUNT(mratio) AS BIGINT) AS n_used,
             CAST(COUNT(mratio) AS DOUBLE) / COUNT(*) AS coverage_ratio,
             AVG(CASE WHEN mratio < 1.0 - {_ESAFE_MIN_LIFT_RMSE} THEN 1.0
                      WHEN mratio IS NOT NULL THEN 0.0 END) AS lift_global,
             AVG(CASE WHEN recency = 1
                           AND mratio < 1.0 - {_ESAFE_MIN_LIFT_RMSE} THEN 1.0
                      WHEN recency = 1 AND mratio IS NOT NULL
                      THEN 0.0 END) AS lift_recent,
             AVG(CASE WHEN mratio IS NOT NULL THEN 1.0 - mratio END)
               - 1.96 * STDDEV_SAMP(CASE WHEN mratio IS NOT NULL
                                         THEN 1.0 - mratio END)
                 / SQRT(COUNT(mratio)) AS lift_ci_low
      FROM arow
    ),
    {_EXQ_ORACLE_BODY},
    l3 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_trades,
             AVG(CAST(is_winner AS DOUBLE)) AS win_rate,
             SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END)
               / NULLIF(SUM(CASE WHEN pnl < 0 THEN -pnl ELSE 0 END), 0)
               AS profit_factor
      FROM tr
    ),
    pt AS (
      SELECT 'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             COUNT(*) AS n,
             AVG(CASE WHEN t.pnl > 0 THEN 1.0 ELSE 0.0 END) AS wr
      FROM tr t JOIN orders o ON o.o_orderkey = t.orderkey
      GROUP BY 1
    ),
    weak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS weak_ticker_count
      FROM pt WHERE n >= {_DSM_WEAK_N} AND wr < {_DSM_WEAK_WR}
    ),
    g AS (SELECT * FROM l1, l3, weak),
    rec AS (
      SELECT *,
             CONCAT_WS(',',
               CASE WHEN n_trades < {_DSM_R3_TRADES}
                    THEN 'TRADE_COUNT_HARD'
                    WHEN n_trades < {_DSM_TARGET_TRADES}
                    THEN 'TRADE_COUNT_TARGET' END,
               CASE WHEN win_rate < {_DSM_R3_WR} THEN 'WIN_RATE' END,
               CASE WHEN profit_factor < {_DSM_R3_PF}
                    THEN 'PROFIT_FACTOR' END,
               CASE WHEN coverage_ratio < {_DSM_TARGET_COVERAGE}
                         OR n_used < {_DSM_TARGET_N_USED}
                    THEN 'AUDIT_COVERAGE' END,
               CASE WHEN lift_ci_low <= 0.0 THEN 'LIFT_ADVISORY' END,
               CASE WHEN weak_ticker_count > 0 THEN 'WEAK_TICKERS' END)
               AS recommendations
      FROM g
    )
    SELECT n_trades,
           ROUND(win_rate, 4) AS win_rate,
           ROUND(profit_factor, 4) AS profit_factor,
           n_used AS n_used_audit_windows,
           ROUND(coverage_ratio, 4) AS coverage_ratio,
           ROUND(lift_global, 4) AS lift_fraction_global,
           ROUND(lift_recent, 4) AS lift_fraction_recent,
           ROUND(lift_ci_low, 6) AS lift_ci_low,
           weak_ticker_count,
           recommendations,
           CASE WHEN recommendations = '' THEN 'SUFFICIENT'
                ELSE 'INSUFFICIENT' END AS status,
           CAST(recommendations = '' AS INTEGER) AS sufficient
    FROM rec
    """,
)
@shared_small_frame
def data_sufficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-sufficiency monitor — reference
    `scripts/data_sufficiency_monitor.py:124-247`: fleet trade stats
    checked against the R3 hard gates (20 trades / 45% WR / 1.30 PF) and
    the 50-trade statistical target, audit-window coverage against the
    50-window / 20%-ratio targets, the advisory lift-CI arm (CI low <= 0
    -> keep accumulating), the per-ticker weak census (>=3 trades under
    30% win rate, `:84-122`) and the SUFFICIENT verdict that requires
    every recommendation channel silent. Trade-count recommendation
    keeps the reference's two rungs as distinct codes (hard gate vs
    target).

    Scale: three bounded aggregates + a sleeve-cardinality census,
    cross-joined as single-row scalars. No UDF, no collect."""
    from .queries_trades import _exit_trades_frame

    # layer 1 — audit-window lift with the ensemble warm-up plant
    a = _audit_windows(spark, sf_dir)
    ratio = F.col("r_e") / F.least("r_n", "r_3", "r_10")
    arow = a.select(
        "user_id",
        F.when(F.col("audit_id") == 0, F.lit(None).cast("double"))
        .otherwise(ratio)
        .alias("mratio"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.col("audit_id").desc()))
        .alias("recency"),
    )
    lift = F.when(F.col("mratio") < 1.0 - _ESAFE_MIN_LIFT_RMSE, 1.0).when(
        F.col("mratio").isNotNull(), 0.0
    )
    lm = F.avg(1.0 - F.col("mratio"))
    lsd = F.stddev_samp(1.0 - F.col("mratio"))
    l1 = arow.agg(
        F.count("mratio").alias("n_used"),
        (F.count("mratio").cast("double") / F.count(F.lit(1))).alias(
            "coverage_ratio"
        ),
        F.avg(lift).alias("lift_global"),
        F.avg(F.when(F.col("recency") == 1, lift)).alias("lift_recent"),
        (lm - 1.96 * lsd / F.sqrt(F.count("mratio"))).alias("lift_ci_low"),
    )

    tr = _exit_trades_frame(spark, sf_dir)
    l3 = tr.agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.avg(F.col("is_winner").cast("double")).alias("win_rate"),
        (
            F.sum(F.when(F.col("pnl") > 0, F.col("pnl")).otherwise(0.0))
            / F.nullif(
                F.sum(F.when(F.col("pnl") < 0, -F.col("pnl")).otherwise(0.0)),
                F.lit(0.0),
            )
        ).alias("profit_factor"),
    )
    o = load_table(spark, sf_dir, "orders")
    pt = (
        tr.join(o, F.col("o_orderkey") == F.col("orderkey"))
        .groupBy(
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string")).alias(
                "ticker"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)).alias("wr"),
        )
    )
    weak = pt.filter(
        (F.col("n") >= _DSM_WEAK_N) & (F.col("wr") < _DSM_WEAK_WR)
    ).agg(F.count(F.lit(1)).alias("weak_ticker_count"))
    g = l1.crossJoin(l3).crossJoin(weak)
    recs = F.concat_ws(
        ",",
        F.when(F.col("n_trades") < _DSM_R3_TRADES, "TRADE_COUNT_HARD").when(
            F.col("n_trades") < _DSM_TARGET_TRADES, "TRADE_COUNT_TARGET"
        ),
        F.when(F.col("win_rate") < _DSM_R3_WR, "WIN_RATE"),
        F.when(F.col("profit_factor") < _DSM_R3_PF, "PROFIT_FACTOR"),
        F.when(
            (F.col("coverage_ratio") < _DSM_TARGET_COVERAGE)
            | (F.col("n_used") < _DSM_TARGET_N_USED),
            "AUDIT_COVERAGE",
        ),
        F.when(F.col("lift_ci_low") <= 0.0, "LIFT_ADVISORY"),
        F.when(F.col("weak_ticker_count") > 0, "WEAK_TICKERS"),
    )
    rec = g.withColumn("recommendations", recs)
    return rec.select(
        "n_trades",
        F.round("win_rate", 4).alias("win_rate"),
        F.round("profit_factor", 4).alias("profit_factor"),
        F.col("n_used").alias("n_used_audit_windows"),
        F.round("coverage_ratio", 4).alias("coverage_ratio"),
        F.round("lift_global", 4).alias("lift_fraction_global"),
        F.round("lift_recent", 4).alias("lift_fraction_recent"),
        r6(F.col("lift_ci_low")).alias("lift_ci_low"),
        "weak_ticker_count",
        "recommendations",
        F.when(F.col("recommendations") == "", "SUFFICIENT")
        .otherwise("INSUFFICIENT")
        .alias("status"),
        (F.col("recommendations") == "").cast("int").alias("sufficient"),
    )


# ---------------------------------------------------------------------------
# Production-gate failure decomposition
# ---------------------------------------------------------------------------

# Reference `scripts/gate_failure_decomposition.py:309-503`
# (`_build_decomposition`): the production gate's failure surface split
# into PERFORMANCE / LINKAGE / HYGIENE blocker components, each a set of
# (metric, value, threshold, pass) rows, plus the linkage waterfall
# stages, the per-component status and the phase-3 strict readiness
# verdict (all components must pass). Engine derivations: the lift gate
# from the audit-window frame, the profitability proof from production
# round-trips, linkage + hygiene from the semantic-admission entry frame
# (EXECUTION_REJECTED = the k%3 slice of invalid-context entries — the
# reference's clean HOLD/blocked rejections excluded from hygiene).
_GFD_MAX_VIOL = 0.40
_GFD_MIN_LIFT = 0.30
_GFD_MIN_PF = 1.30
_GFD_MIN_CLOSED = 30
_GFD_MIN_DAYS = 21
_GFD_MIN_MATCHED = 10
_GFD_MIN_RATIO = 0.80


@query(
    "gate_failure_decomposition",
    oracle=f"""
    {_AUDIT_SQL},
    {_ADM_LADDER_SQL},
    lg AS (
      SELECT AVG(CASE WHEN ratio > 1.1 THEN 1.0 ELSE 0.0 END)
               AS violation_rate,
             AVG(CASE WHEN ratio < 0.98 THEN 1.0 ELSE 0.0 END)
               AS lift_fraction
      FROM r
    ),
    pmx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    pcloses AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             MAX(l.l_shipdate) AS cship
      FROM lineitem l
      JOIN pmx ON pmx.l_orderkey = l.l_orderkey
              AND l.l_linenumber = pmx.maxline
      GROUP BY l.l_orderkey
    ),
    popens AS (
      SELECT l_orderkey, SUM(l_quantity) AS oq,
             SUM(l_extendedprice * (1 - l_discount)) AS onet
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    ptrips AS (
      SELECT ROUND(c.cnet - o2.onet, 6) AS pnl,
             CAST(c.cship AS DATE) AS close_d
      FROM pcloses c
      JOIN popens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    proof AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS closed_trades,
             CAST(COUNT(DISTINCT close_d) AS BIGINT) AS trading_days,
             AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
             SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END)
               / NULLIF(SUM(CASE WHEN pnl < 0 THEN -pnl ELSE 0 END), 0)
               AS profit_factor,
             SUM(pnl) AS total_pnl
      FROM ptrips
    ),
    lw AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS raw_candidates,
             CAST(SUM(production_labeled) AS BIGINT) AS production_only,
             CAST(SUM(CASE WHEN production_labeled = 1
                                AND manifest_status = 'verified'
                           THEN 1 ELSE 0 END) AS BIGINT) AS linked,
             CAST(SUM(CASE WHEN production_labeled = 1
                                AND manifest_status = 'verified'
                                AND duplicate_conflict = 0
                                AND quarantined = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS hygiene_pass_n,
             CAST(SUM(CASE WHEN production_labeled = 1
                                AND manifest_status = 'verified'
                                AND duplicate_conflict = 0
                                AND quarantined = 0
                                AND outcome_status = 'MATCHED'
                           THEN 1 ELSE 0 END) AS BIGINT) AS matched,
             CAST(SUM(counts_toward_readiness) AS BIGINT) AS eligible,
             CAST(SUM(CASE WHEN production_labeled = 1
                                AND context_type = 'NON_TRADE'
                           THEN 1 ELSE 0 END) AS BIGINT) AS non_trade,
             CAST(SUM(CASE WHEN production_labeled = 1
                                AND context_type = 'INVALID'
                           THEN 1 ELSE 0 END) AS BIGINT) AS invalid_total
      FROM adm
    ),
    lw2 AS (
      SELECT lw.*,
             (SELECT CAST(SUM(CASE WHEN production_labeled
                                        AND context_type = 'INVALID'
                                        AND k % 3 = 0
                                   THEN 1 ELSE 0 END) AS BIGINT)
              FROM ent) AS execution_rejected
      FROM lw
    ),
    g AS (
      SELECT lg.violation_rate, lg.lift_fraction,
             proof.closed_trades, proof.trading_days, proof.win_rate,
             proof.profit_factor, proof.total_pnl,
             lw2.*,
             lw2.invalid_total - lw2.execution_rejected AS dirty_invalid,
             CAST(lw2.matched AS DOUBLE) / NULLIF(lw2.eligible, 0)
               AS matched_ratio,
             (proof.profit_factor >= {_GFD_MIN_PF}
              AND proof.closed_trades >= {_GFD_MIN_CLOSED}
              AND proof.trading_days >= {_GFD_MIN_DAYS}
              AND proof.total_pnl > 0) AS proof_pass
      FROM lg, proof, lw2
    ),
    t AS (
      SELECT 'PERFORMANCE_BLOCKER' AS component,
             'lift_violation_rate' AS metric,
             ROUND(violation_rate, 6) AS value,
             '<= {_GFD_MAX_VIOL}' AS threshold,
             CAST(violation_rate <= {_GFD_MAX_VIOL} AS INTEGER) AS pass
      FROM g
      UNION ALL SELECT 'PERFORMANCE_BLOCKER', 'lift_fraction',
        ROUND(lift_fraction, 6), '>= {_GFD_MIN_LIFT}',
        CAST(lift_fraction >= {_GFD_MIN_LIFT} AS INTEGER) FROM g
      UNION ALL SELECT 'PERFORMANCE_BLOCKER', 'proof_pass',
        CAST(proof_pass AS INTEGER), 'must_be_true',
        CAST(proof_pass AS INTEGER) FROM g
      UNION ALL SELECT 'PERFORMANCE_BLOCKER', 'profit_factor',
        ROUND(profit_factor, 6), '>= {_GFD_MIN_PF}',
        CAST(profit_factor >= {_GFD_MIN_PF} AS INTEGER) FROM g
      UNION ALL SELECT 'PERFORMANCE_BLOCKER', 'win_rate',
        ROUND(win_rate, 6), 'diagnostic', 1 FROM g
      UNION ALL SELECT 'PERFORMANCE_BLOCKER', 'total_pnl',
        ROUND(total_pnl, 6), 'context_metric', 1 FROM g
      UNION ALL SELECT 'PERFORMANCE_BLOCKER', 'closed_trades',
        CAST(closed_trades AS DOUBLE), '>= {_GFD_MIN_CLOSED}_runway',
        CAST(closed_trades >= {_GFD_MIN_CLOSED} AS INTEGER) FROM g
      UNION ALL SELECT 'PERFORMANCE_BLOCKER', 'trading_days',
        CAST(trading_days AS DOUBLE), '>= {_GFD_MIN_DAYS}_runway',
        CAST(trading_days >= {_GFD_MIN_DAYS} AS INTEGER) FROM g
      UNION ALL SELECT 'LINKAGE_BLOCKER', 'outcome_matched',
        CAST(matched AS DOUBLE), '>= {_GFD_MIN_MATCHED}',
        CAST(matched >= {_GFD_MIN_MATCHED} AS INTEGER) FROM g
      UNION ALL SELECT 'LINKAGE_BLOCKER', 'outcome_eligible',
        CAST(eligible AS DOUBLE), 'context_metric',
        CAST(eligible > 0 AS INTEGER) FROM g
      UNION ALL SELECT 'LINKAGE_BLOCKER', 'matched_over_eligible',
        ROUND(matched_ratio, 6), '>= {_GFD_MIN_RATIO}',
        CAST(matched_ratio >= {_GFD_MIN_RATIO} AS INTEGER) FROM g
      UNION ALL SELECT 'LINKAGE_WATERFALL', 'raw_candidates',
        CAST(raw_candidates AS DOUBLE), 'waterfall_stage', 1 FROM g
      UNION ALL SELECT 'LINKAGE_WATERFALL', 'production_only',
        CAST(production_only AS DOUBLE), 'waterfall_stage', 1 FROM g
      UNION ALL SELECT 'LINKAGE_WATERFALL', 'linked',
        CAST(linked AS DOUBLE), 'waterfall_stage', 1 FROM g
      UNION ALL SELECT 'LINKAGE_WATERFALL', 'hygiene_pass',
        CAST(hygiene_pass_n AS DOUBLE), 'waterfall_stage', 1 FROM g
      UNION ALL SELECT 'LINKAGE_WATERFALL', 'matched',
        CAST(matched AS DOUBLE), 'waterfall_stage', 1 FROM g
      UNION ALL SELECT 'HYGIENE_BLOCKER', 'non_trade_context_count',
        CAST(non_trade AS DOUBLE), '== 0',
        CAST(non_trade = 0 AS INTEGER) FROM g
      UNION ALL SELECT 'HYGIENE_BLOCKER', 'dirty_invalid_count',
        CAST(dirty_invalid AS DOUBLE), '== 0',
        CAST(dirty_invalid = 0 AS INTEGER) FROM g
      UNION ALL SELECT 'HYGIENE_BLOCKER', 'execution_rejected_count',
        CAST(execution_rejected AS DOUBLE), 'excluded_from_hygiene', 1
        FROM g
      UNION ALL SELECT 'HYGIENE_BLOCKER', 'invalid_context_total',
        CAST(invalid_total AS DOUBLE), 'informational',
        CAST(invalid_total = 0 AS INTEGER) FROM g
      UNION ALL SELECT 'COMPONENT_STATUS', 'performance_pass',
        CAST(CAST(violation_rate <= {_GFD_MAX_VIOL}
                  AND lift_fraction >= {_GFD_MIN_LIFT}
                  AND proof_pass AS INTEGER) AS DOUBLE),
        'component_pass',
        CAST(violation_rate <= {_GFD_MAX_VIOL}
             AND lift_fraction >= {_GFD_MIN_LIFT}
             AND proof_pass AS INTEGER) FROM g
      UNION ALL SELECT 'COMPONENT_STATUS', 'linkage_pass',
        CAST(CAST(matched >= {_GFD_MIN_MATCHED}
                  AND matched_ratio >= {_GFD_MIN_RATIO}
                  AS INTEGER) AS DOUBLE),
        'component_pass',
        CAST(matched >= {_GFD_MIN_MATCHED}
             AND matched_ratio >= {_GFD_MIN_RATIO} AS INTEGER) FROM g
      UNION ALL SELECT 'COMPONENT_STATUS', 'hygiene_pass',
        CAST(CAST(non_trade = 0 AND dirty_invalid = 0 AS INTEGER)
             AS DOUBLE),
        'component_pass',
        CAST(non_trade = 0 AND dirty_invalid = 0 AS INTEGER) FROM g
      UNION ALL SELECT 'PHASE3', 'phase3_strict_ready',
        CAST(CAST(violation_rate <= {_GFD_MAX_VIOL}
                  AND lift_fraction >= {_GFD_MIN_LIFT} AND proof_pass
                  AND matched >= {_GFD_MIN_MATCHED}
                  AND matched_ratio >= {_GFD_MIN_RATIO}
                  AND non_trade = 0 AND dirty_invalid = 0
                  AS INTEGER) AS DOUBLE),
        CASE WHEN NOT (violation_rate <= {_GFD_MAX_VIOL}
                       AND lift_fraction >= {_GFD_MIN_LIFT} AND proof_pass)
             THEN 'performance_blocker'
             WHEN NOT (matched >= {_GFD_MIN_MATCHED}
                       AND matched_ratio >= {_GFD_MIN_RATIO})
             THEN 'linkage_blocker'
             WHEN NOT (non_trade = 0 AND dirty_invalid = 0)
             THEN 'hygiene_blocker'
             ELSE 'ready' END,
        CAST(violation_rate <= {_GFD_MAX_VIOL}
             AND lift_fraction >= {_GFD_MIN_LIFT} AND proof_pass
             AND matched >= {_GFD_MIN_MATCHED}
             AND matched_ratio >= {_GFD_MIN_RATIO}
             AND non_trade = 0 AND dirty_invalid = 0 AS INTEGER) FROM g
    )
    SELECT * FROM t
    """,
)
def gate_failure_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-gate failure decomposition — reference
    `scripts/gate_failure_decomposition.py:309-503`; the combined gate
    runner's own waterfall/lifecycle arithmetic is the same algebra
    (`scripts/production_audit_gate.py:801-830` `_build_linkage_
    waterfall`, `:893-965` `_compute_lifecycle_integrity`, `:653-678`
    warmup window — served here and by the R18/R54 queries): the
    (component, metric, value, threshold, pass) table across the
    PERFORMANCE / LINKAGE / HYGIENE blockers, the linkage waterfall
    stages, per-component status and the phase-3 strict verdict whose
    threshold column carries the blocking component (the reference's
    phase3_reason). Lift gate = the audit-window frame; profitability
    proof = production round-trips; linkage + hygiene = the
    semantic-admission entry frame with EXECUTION_REJECTED (clean
    HOLD/blocked rejections) excluded from the dirty-invalid count.

    Scale: three bounded sub-aggregates cross-joined as single-row
    scalars; the union is a constant ~23 rows. No UDF, no collect."""
    # lift gate over the audit-window frame
    a = _audit_windows(spark, sf_dir)
    ratio = F.col("r_e") / F.least("r_n", "r_3", "r_10")
    lg = a.select(ratio.alias("ratio")).agg(
        F.avg(F.when(F.col("ratio") > 1.1, 1.0).otherwise(0.0)).alias(
            "violation_rate"
        ),
        F.avg(F.when(F.col("ratio") < 0.98, 1.0).otherwise(0.0)).alias(
            "lift_fraction"
        ),
    )

    # profitability proof over production round-trips
    ptrips = (
        _closed_trades(spark, sf_dir)
        .select(
            F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
            F.to_date("cship").alias("close_d"),
        )
    )
    proof = ptrips.agg(
        F.count(F.lit(1)).alias("closed_trades"),
        F.countDistinct("close_d").alias("trading_days"),
        F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)).alias("win_rate"),
        (
            F.sum(F.when(F.col("pnl") > 0, F.col("pnl")).otherwise(0.0))
            / F.nullif(
                F.sum(F.when(F.col("pnl") < 0, -F.col("pnl")).otherwise(0.0)),
                F.lit(0.0),
            )
        ).alias("profit_factor"),
        F.sum("pnl").alias("total_pnl"),
    )

    # linkage waterfall + hygiene over the admission entry frame
    adm = audit_admission_ladder(spark, sf_dir)
    prod = F.col("production_labeled") == 1
    linked = prod & (F.col("manifest_status") == "verified")
    hyg = (
        linked
        & (F.col("duplicate_conflict") == 0)
        & (F.col("quarantined") == 0)
    )
    lw = adm.agg(
        F.count(F.lit(1)).alias("raw_candidates"),
        F.sum("production_labeled").cast("bigint").alias("production_only"),
        F.sum(linked.cast("int")).cast("bigint").alias("linked"),
        F.sum(hyg.cast("int")).cast("bigint").alias("hygiene_pass_n"),
        F.sum((hyg & (F.col("outcome_status") == "MATCHED")).cast("int"))
        .cast("bigint")
        .alias("matched"),
        F.sum("counts_toward_readiness").cast("bigint").alias("eligible"),
        F.sum((prod & (F.col("context_type") == "NON_TRADE")).cast("int"))
        .cast("bigint")
        .alias("non_trade"),
        F.sum((prod & (F.col("context_type") == "INVALID")).cast("int"))
        .cast("bigint")
        .alias("invalid_total"),
    )
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    er = ev.select(
        "event_id",
        "user_id",
        "event_type",
        k.alias("k"),
    ).agg(
        F.sum(
            (
                (F.col("user_id") % 10 != 0)
                & (F.col("event_type") == "error")
                & (F.col("k") % 3 == 0)
            ).cast("int")
        )
        .cast("bigint")
        .alias("execution_rejected")
    )
    g = (
        lg.crossJoin(proof)
        .crossJoin(lw)
        .crossJoin(F.broadcast(er))
        .withColumn(
            "dirty_invalid",
            F.col("invalid_total") - F.col("execution_rejected"),
        )
        .withColumn(
            "matched_ratio",
            F.col("matched").cast("double")
            / F.nullif(F.col("eligible"), F.lit(0)),
        )
        .withColumn(
            "proof_pass",
            (F.col("profit_factor") >= _GFD_MIN_PF)
            & (F.col("closed_trades") >= _GFD_MIN_CLOSED)
            & (F.col("trading_days") >= _GFD_MIN_DAYS)
            & (F.col("total_pnl") > 0),
        )
    )
    viol_ok = F.col("violation_rate") <= _GFD_MAX_VIOL
    lift_ok = F.col("lift_fraction") >= _GFD_MIN_LIFT
    perf = viol_ok & lift_ok & F.col("proof_pass")
    link = (F.col("matched") >= _GFD_MIN_MATCHED) & (
        F.col("matched_ratio") >= _GFD_MIN_RATIO
    )
    hygp = (F.col("non_trade") == 0) & (F.col("dirty_invalid") == 0)
    ready = perf & link & hygp
    reason = (
        F.when(~perf, "performance_blocker")
        .when(~link, "linkage_blocker")
        .when(~hygp, "hygiene_blocker")
        .otherwise("ready")
    )

    def row(component, metric, value, threshold, passed):
        return F.struct(
            F.lit(component).alias("component"),
            F.lit(metric).alias("metric"),
            value.cast("double").alias("value"),
            (
                threshold
                if not isinstance(threshold, str)
                else F.lit(threshold)
            ).alias("threshold"),
            (
                passed
                if not isinstance(passed, int)
                else F.lit(passed)
            ).cast("int").alias("pass"),
        )

    rows = [
        row("PERFORMANCE_BLOCKER", "lift_violation_rate",
            F.round("violation_rate", 6), f"<= {_GFD_MAX_VIOL}",
            viol_ok.cast("int")),
        row("PERFORMANCE_BLOCKER", "lift_fraction",
            F.round("lift_fraction", 6), f">= {_GFD_MIN_LIFT}",
            lift_ok.cast("int")),
        row("PERFORMANCE_BLOCKER", "proof_pass",
            F.col("proof_pass").cast("int"), "must_be_true",
            F.col("proof_pass").cast("int")),
        row("PERFORMANCE_BLOCKER", "profit_factor",
            F.round("profit_factor", 6), f">= {_GFD_MIN_PF}",
            (F.col("profit_factor") >= _GFD_MIN_PF).cast("int")),
        row("PERFORMANCE_BLOCKER", "win_rate",
            F.round("win_rate", 6), "diagnostic", 1),
        row("PERFORMANCE_BLOCKER", "total_pnl",
            F.round("total_pnl", 6), "context_metric", 1),
        row("PERFORMANCE_BLOCKER", "closed_trades",
            F.col("closed_trades"), f">= {_GFD_MIN_CLOSED}_runway",
            (F.col("closed_trades") >= _GFD_MIN_CLOSED).cast("int")),
        row("PERFORMANCE_BLOCKER", "trading_days",
            F.col("trading_days"), f">= {_GFD_MIN_DAYS}_runway",
            (F.col("trading_days") >= _GFD_MIN_DAYS).cast("int")),
        row("LINKAGE_BLOCKER", "outcome_matched",
            F.col("matched"), f">= {_GFD_MIN_MATCHED}",
            (F.col("matched") >= _GFD_MIN_MATCHED).cast("int")),
        row("LINKAGE_BLOCKER", "outcome_eligible",
            F.col("eligible"), "context_metric",
            (F.col("eligible") > 0).cast("int")),
        row("LINKAGE_BLOCKER", "matched_over_eligible",
            F.round("matched_ratio", 6), f">= {_GFD_MIN_RATIO}",
            (F.col("matched_ratio") >= _GFD_MIN_RATIO).cast("int")),
        row("LINKAGE_WATERFALL", "raw_candidates",
            F.col("raw_candidates"), "waterfall_stage", 1),
        row("LINKAGE_WATERFALL", "production_only",
            F.col("production_only"), "waterfall_stage", 1),
        row("LINKAGE_WATERFALL", "linked",
            F.col("linked"), "waterfall_stage", 1),
        row("LINKAGE_WATERFALL", "hygiene_pass",
            F.col("hygiene_pass_n"), "waterfall_stage", 1),
        row("LINKAGE_WATERFALL", "matched",
            F.col("matched"), "waterfall_stage", 1),
        row("HYGIENE_BLOCKER", "non_trade_context_count",
            F.col("non_trade"), "== 0",
            (F.col("non_trade") == 0).cast("int")),
        row("HYGIENE_BLOCKER", "dirty_invalid_count",
            F.col("dirty_invalid"), "== 0",
            (F.col("dirty_invalid") == 0).cast("int")),
        row("HYGIENE_BLOCKER", "execution_rejected_count",
            F.col("execution_rejected"), "excluded_from_hygiene", 1),
        row("HYGIENE_BLOCKER", "invalid_context_total",
            F.col("invalid_total"), "informational",
            (F.col("invalid_total") == 0).cast("int")),
        row("COMPONENT_STATUS", "performance_pass",
            perf.cast("int"), "component_pass", perf.cast("int")),
        row("COMPONENT_STATUS", "linkage_pass",
            link.cast("int"), "component_pass", link.cast("int")),
        row("COMPONENT_STATUS", "hygiene_pass",
            hygp.cast("int"), "component_pass", hygp.cast("int")),
        row("PHASE3", "phase3_strict_ready",
            ready.cast("int"), reason, ready.cast("int")),
    ]
    # one evaluation of the composed scalar row, exploded into the table —
    # a 24-way union would re-execute the whole pipeline per metric row
    return g.select(F.explode(F.array(*rows)).alias("m")).select("m.*")


# ---------------------------------------------------------------------------
# Capital readiness check (6-rule verdict)
# ---------------------------------------------------------------------------

# Reference `scripts/capital_readiness_check.py:64-428`: the six
# readiness rules — R1 adversarial findings (confirmed CRITICAL/HIGH =
# the duplicate-close overlap class), R2 gate artifact fresh and passed
# (the data-quality gate census plays the artifact), R3 trade quality
# (20 trades / 1.30 PF hard floors, win rate diagnostic), R4
# calibration (tier active, Brier < 0.25), R5 lift CI (definitively
# negative = hard fail, spans zero = advisory), R6 lifecycle integrity
# (close-before-entry + orphan closes are HIGH violations) — combined
# into the PASS / FAIL verdict (reasons empty = ready).
_CRC_R3_TRADES = 20
_CRC_R3_PF = 1.30
_CRC_R4_BRIER = 0.25
_CRC_R5_MIN_N = 20


@query(
    "capital_readiness_check",
    oracle=f"""
    {_AUDIT_SQL},
    lift AS (
      SELECT COUNT(*) AS n_used,
             AVG(1.0 - ratio) AS lm,
             STDDEV_SAMP(1.0 - ratio) AS lsd
      FROM r
    ),
    r5 AS (
      SELECT n_used,
             lm - 1.96 * lsd / SQRT(n_used) AS ci_low,
             lm + 1.96 * lsd / SQRT(n_used) AS ci_high
      FROM lift
    ),
    pmx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    pcloses AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             MAX(l.l_shipdate) AS cship,
             COUNT(*) AS n_close_legs
      FROM lineitem l
      JOIN pmx ON pmx.l_orderkey = l.l_orderkey
              AND l.l_linenumber = pmx.maxline
      GROUP BY l.l_orderkey
    ),
    popens AS (
      SELECT l_orderkey, SUM(l_quantity) AS oq,
             SUM(l_extendedprice * (1 - l_discount)) AS onet,
             MIN(l_shipdate) AS oship
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    ptr AS (
      SELECT ROUND(c.cnet - o2.onet, 6) AS pnl,
             CAST(c.cship AS DATE) < CAST(o2.oship AS DATE)
               AS close_before_entry
      FROM pcloses c
      JOIN popens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    r3 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_trades,
             AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
             CAST(SUM(CASE WHEN pnl > 0 THEN CAST(pnl AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE)
               / NULLIF(CAST(SUM(CASE WHEN pnl < 0
                                 THEN CAST(-pnl AS DECIMAL(28,6))
                                 ELSE 0 END) AS DOUBLE), 0)
               AS profit_factor,
             CAST(SUM(CASE WHEN close_before_entry THEN 1 ELSE 0 END)
               AS BIGINT) AS close_before_entry_count
      FROM ptr
    ),
    orphan AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS orphan_close_count
      FROM pcloses c
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND NOT EXISTS (SELECT 1 FROM popens p
                        WHERE p.l_orderkey = c.l_orderkey AND p.oq > 0)
    ),
    r1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_critical_high
      FROM (
        SELECT l.l_orderkey
        FROM lineitem l
        JOIN (SELECT l_orderkey, ROUND(SUM(l_quantity), 6) AS opener_qty
              FROM lineitem WHERE l_linenumber = 1
              GROUP BY l_orderkey) o ON o.l_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'R' AND l.l_linenumber > 1
        GROUP BY l.l_orderkey, o.opener_qty
        HAVING COUNT(*) > 1 AND ROUND(SUM(l.l_quantity), 6) > o.opener_qty
      )
    ),
    r2 AS (
      SELECT (CASE WHEN AVG(CASE WHEN value <= 0 THEN 1.0 ELSE 0.0 END) = 0
                   THEN 1 ELSE 0 END
              + CASE WHEN AVG(CASE WHEN CAST(props->>'k' AS INTEGER) IS NULL
                                   THEN 1.0 ELSE 0.0 END) < 0.05
                     THEN 1 ELSE 0 END
              + CASE WHEN COUNT(*) >= 100 THEN 1 ELSE 0 END) = 3
               AS gate_overall_passed
      FROM events
    ),
    cal_s AS ({_S_SQL}),
    cal_f AS (
      SELECT user_id, rn, value,
             AVG(value) OVER w20 AS ma20,
             STDDEV_SAMP(value) OVER w20 AS sd20,
             COUNT(*) OVER w20 AS n20,
             LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY rn)
               AS next_value
      FROM cal_s
      WINDOW w20 AS (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ),
    cal_p AS (
      SELECT ROUND(1.0 / (1.0 + EXP(-ROUND((value - ma20)
                                           / NULLIF(sd20, 0.0), 6))), 6)
               AS conf,
             CASE WHEN next_value > value THEN 1.0 ELSE 0.0 END AS outcome
      FROM cal_f
      WHERE n20 = 20 AND next_value IS NOT NULL AND sd20 > 0
    ),
    r4 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             AVG((conf - outcome) * (conf - outcome)) AS brier
      FROM cal_p
    ),
    g AS (
      SELECT r1.n_critical_high, r2.gate_overall_passed,
             r3.n_trades, r3.win_rate, r3.profit_factor,
             r3.close_before_entry_count, orphan.orphan_close_count,
             r4.n_pairs, r4.brier,
             r5.n_used, r5.ci_low, r5.ci_high,
             CASE WHEN r4.n_pairs >= 50 THEN 'db_local'
                  WHEN r4.n_pairs > 0 THEN 'jsonl'
                  ELSE 'inactive' END AS calibration_tier
      FROM r1, r2, r3, orphan, r4, r5
    ),
    v AS (
      SELECT *,
             CONCAT_WS(',',
               CASE WHEN n_critical_high > 0
                    THEN 'R1_adversarial_findings' END,
               CASE WHEN NOT gate_overall_passed
                    THEN 'R2_gate_artifact_failed' END,
               CASE WHEN n_trades < {_CRC_R3_TRADES}
                    THEN 'R3_insufficient_trades' END,
               CASE WHEN profit_factor < {_CRC_R3_PF}
                    THEN 'R3_low_profit_factor' END,
               CASE WHEN calibration_tier = 'inactive'
                    THEN 'R4_calibration_inactive' END,
               CASE WHEN brier >= {_CRC_R4_BRIER}
                    THEN 'R4_miscalibrated' END,
               CASE WHEN n_used >= {_CRC_R5_MIN_N} AND ci_high < 0.0
                    THEN 'R5_lift_definitively_negative' END,
               CASE WHEN close_before_entry_count + orphan_close_count > 0
                    THEN 'R6_lifecycle_violations' END) AS reasons,
             CONCAT_WS(',',
               CASE WHEN n_used >= {_CRC_R5_MIN_N} AND ci_low <= 0.0
                         AND ci_high >= 0.0
                    THEN 'R5_lift_ci_spans_zero' END) AS warnings
      FROM g
    )
    SELECT n_critical_high,
           CAST(gate_overall_passed AS INTEGER) AS gate_overall_passed,
           n_trades,
           ROUND(win_rate, 6) AS win_rate,
           ROUND(profit_factor, 6) AS profit_factor,
           calibration_tier,
           ROUND(brier, 6) AS brier_score,
           n_pairs AS calibration_pairs,
           ROUND(ci_low, 6) AS lift_ci_low,
           ROUND(ci_high, 6) AS lift_ci_high,
           close_before_entry_count,
           orphan_close_count,
           reasons, warnings,
           CASE WHEN reasons = '' THEN 'PASS' ELSE 'FAIL' END AS verdict,
           CAST(reasons = '' AS INTEGER) AS ready
    FROM v
    """,
)
def capital_readiness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 6-rule capital-readiness verdict — reference
    `scripts/capital_readiness_check.py:64-428`: R1 zero confirmed
    CRITICAL/HIGH adversarial findings (the duplicate-close overlap
    census), R2 gate artifact passed (the data-quality gate census
    plays the always-fresh artifact), R3 trade-quality hard floors (20
    trades, 1.30 PF; win rate diagnostic only), R4 calibration tier
    active with Brier < 0.25, R5 the lift-CI rule (definitively
    negative with >= 20 windows -> hard fail; spans zero -> advisory
    warning), R6 lifecycle integrity (close-before-entry + orphan-close
    HIGH violations). Ready iff every reason channel is silent.

    Scale: six bounded aggregates cross-joined as single-row scalars.
    No UDF, no collect."""
    # R5 — lift CI over audit windows
    a = _audit_windows(spark, sf_dir)
    ratio = F.col("r_e") / F.least("r_n", "r_3", "r_10")
    lift = a.select((1.0 - ratio).alias("l")).agg(
        F.count(F.lit(1)).alias("n_used"),
        F.avg("l").alias("lm"),
        F.stddev_samp("l").alias("lsd"),
    )
    r5 = lift.select(
        "n_used",
        (F.col("lm") - 1.96 * F.col("lsd") / F.sqrt(F.col("n_used"))).alias(
            "ci_low"
        ),
        (F.col("lm") + 1.96 * F.col("lsd") / F.sqrt(F.col("n_used"))).alias(
            "ci_high"
        ),
    )

    # R3 + R6 — production round-trips with lifecycle dates
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    of = o.filter(F.col("o_orderstatus") == "F")
    # R3 and the R6 orphan census share one pass over the one-pass lot
    # frame: each 'F' order's lots classify it as a trade (opened with
    # oq > 0, and cq > 0) or an orphan close (no open lot with oq > 0);
    # both aggregates are when()-guarded columns of a single fold.
    j6 = _trade_legs(spark, sf_dir).join(
        of, F.col("o_orderkey") == F.col("l_orderkey")
    )
    opened = F.coalesce(F.col("oq") > 0, F.lit(False))
    matched = opened & (F.col("cq") > 0)
    pnl = F.round(F.col("cnet") - F.col("onet"), 6)
    dec = "decimal(28,6)"
    r3 = j6.agg(
        F.count(F.when(matched, F.lit(1))).alias("n_trades"),
        F.avg(
            F.when(matched, F.when(pnl > 0, 1.0).otherwise(0.0))
        ).alias("win_rate"),
        (
            F.sum(
                F.when(matched & (pnl > 0), pnl.cast(dec)).otherwise(
                    F.when(matched, F.lit(0).cast(dec))
                )
            ).cast("double")
            / F.nullif(
                F.sum(
                    F.when(matched & (pnl < 0), (-pnl).cast(dec)).otherwise(
                        F.when(matched, F.lit(0).cast(dec))
                    )
                ).cast("double"),
                F.lit(0.0),
            )
        ).alias("profit_factor"),
        F.sum(
            F.when(
                matched,
                (F.to_date("cship") < F.to_date("oship")).cast("int"),
            )
        )
        .cast("bigint")
        .alias("close_before_entry_count"),
        F.count(F.when(~opened, F.lit(1)))
        .cast("bigint")
        .alias("orphan_close_count"),
    )

    # R1 — duplicate-close overlap census (the adversarial HIGH class)
    opener = li.filter(F.col("l_linenumber") == 1).groupBy("l_orderkey").agg(
        F.round(F.sum("l_quantity"), 6).alias("opener_qty")
    )
    r1 = (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_linenumber") > 1))
        .join(opener, "l_orderkey")
        .groupBy("l_orderkey", "opener_qty")
        .agg(
            F.count(F.lit(1)).alias("n_closes"),
            F.round(F.sum("l_quantity"), 6).alias("closed_qty"),
        )
        .filter(
            (F.col("n_closes") > 1) & (F.col("closed_qty") > F.col("opener_qty"))
        )
        .agg(F.count(F.lit(1)).alias("n_critical_high"))
    )

    # R2 — gate census (positivity, missing-k, volume)
    ev = load_table(spark, sf_dir, "events")
    kcol = F.get_json_object("props", "$.k").cast("int")
    r2 = ev.agg(
        (
            (
                F.when(
                    F.avg(F.when(F.col("value") <= 0, 1.0).otherwise(0.0)) == 0,
                    1,
                ).otherwise(0)
                + F.when(
                    F.avg(F.when(kcol.isNull(), 1.0).otherwise(0.0)) < 0.05, 1
                ).otherwise(0)
                + F.when(F.count(F.lit(1)) >= 100, 1).otherwise(0)
            )
            == 3
        ).alias("gate_overall_passed")
    )

    # R4 — calibration pairs + Brier
    w20 = _w((-19, 0))
    calf = _series(spark, sf_dir).select(
        "user_id",
        "rn",
        "value",
        F.avg("value").over(w20).alias("ma20"),
        F.stddev_samp("value").over(w20).alias("sd20"),
        F.count(F.lit(1)).over(w20).alias("n20"),
        F.lead("value", 1).over(_w()).alias("next_value"),
    )
    z = F.round(
        (F.col("value") - F.col("ma20")) / F.nullif(F.col("sd20"), F.lit(0.0)),
        6,
    )
    calp = calf.filter(
        (F.col("n20") == 20)
        & F.col("next_value").isNotNull()
        & (F.col("sd20") > 0)
    ).select(
        F.round(1.0 / (1.0 + F.exp(-z)), 6).alias("conf"),
        F.when(F.col("next_value") > F.col("value"), 1.0)
        .otherwise(0.0)
        .alias("outcome"),
    )
    r4 = calp.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.avg(
            (F.col("conf") - F.col("outcome"))
            * (F.col("conf") - F.col("outcome"))
        ).alias("brier"),
    )

    g = (
        r1.crossJoin(F.broadcast(r2))
        .crossJoin(r3)
        .crossJoin(r4)
        .crossJoin(r5)
        .withColumn(
            "calibration_tier",
            F.when(F.col("n_pairs") >= 50, "db_local")
            .when(F.col("n_pairs") > 0, "jsonl")
            .otherwise("inactive"),
        )
    )
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_critical_high") > 0, "R1_adversarial_findings"),
        F.when(~F.col("gate_overall_passed"), "R2_gate_artifact_failed"),
        F.when(F.col("n_trades") < _CRC_R3_TRADES, "R3_insufficient_trades"),
        F.when(F.col("profit_factor") < _CRC_R3_PF, "R3_low_profit_factor"),
        F.when(
            F.col("calibration_tier") == "inactive", "R4_calibration_inactive"
        ),
        F.when(F.col("brier") >= _CRC_R4_BRIER, "R4_miscalibrated"),
        F.when(
            (F.col("n_used") >= _CRC_R5_MIN_N) & (F.col("ci_high") < 0.0),
            "R5_lift_definitively_negative",
        ),
        F.when(
            F.col("close_before_entry_count") + F.col("orphan_close_count")
            > 0,
            "R6_lifecycle_violations",
        ),
    )
    warnings = F.concat_ws(
        ",",
        F.when(
            (F.col("n_used") >= _CRC_R5_MIN_N)
            & (F.col("ci_low") <= 0.0)
            & (F.col("ci_high") >= 0.0),
            "R5_lift_ci_spans_zero",
        ),
    )
    v = g.withColumn("reasons", reasons).withColumn("warnings", warnings)
    return v.select(
        "n_critical_high",
        F.col("gate_overall_passed").cast("int").alias("gate_overall_passed"),
        "n_trades",
        r6(F.col("win_rate")).alias("win_rate"),
        r6(F.col("profit_factor")).alias("profit_factor"),
        "calibration_tier",
        r6(F.col("brier")).alias("brier_score"),
        F.col("n_pairs").alias("calibration_pairs"),
        r6(F.col("ci_low")).alias("lift_ci_low"),
        r6(F.col("ci_high")).alias("lift_ci_high"),
        "close_before_entry_count",
        "orphan_close_count",
        "reasons",
        "warnings",
        F.when(F.col("reasons") == "", "PASS").otherwise("FAIL").alias(
            "verdict"
        ),
        (F.col("reasons") == "").cast("int").alias("ready"),
    )


# ---------------------------------------------------------------------------
# Platt calibration contract audit
# ---------------------------------------------------------------------------

# Reference `scripts/platt_contract_audit.py`: the data-driven findings —
# hold_inflation (`:142-181`: HOLD share of outcome-pending entries,
# WARN above 30%), calibration_active_tier (`:276-356`: TIER_1_JSONL /
# TIER_3_DB_GLOBAL / TIER_3_PARTIAL / NONE ladder on the 30-pair floor),
# calibration_quality (`:364-453`: Brier + 10-bin ECE over actionable
# outcome pairs, WARN past ECE 0.15 / no-skill Brier 0.25) and
# ts_closes_in_db (`:188-250`: closed TS trades present). The two code-
# introspection findings (classifier identity, fallback chain order)
# have no data surface and are out of scope. Signals/outcomes reuse the
# accumulation pack's frame: a signal's outcome is its key's first
# same-day purchase; the confidence channel is the portable-md5 uniform.
_PCA_MIN_PAIRS = 30
_PCA_HOLD_WARN = 30.0
_PCA_ECE_WARN = 0.15
_PCA_BRIER_WARN = 0.25


@query(
    "platt_contract_audit",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, value, event_type,
             CAST(props->>'k' AS INTEGER) AS k,
             CAST(ts AS DATE) AS d,
             ('0x' || SUBSTR(MD5('conf|' || CAST(event_id AS VARCHAR)),
                             1, 6))::BIGINT / 16777216.0 AS u
      FROM events WHERE value > 0
    ),
    sig AS (
      SELECT * FROM ev
      WHERE event_type IN ('click', 'view') AND k IS NOT NULL
    ),
    outc AS (
      SELECT user_id, d, value AS exit_value,
             ROW_NUMBER() OVER (PARTITION BY user_id, d
                                ORDER BY ts, event_id) AS ork
      FROM ev WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT s.event_id, s.event_type, s.value AS entry_value,
             CASE WHEN s.u < 0.08 THEN NULL ELSE 0.5 + s.u / 2 END AS conf,
             o.exit_value
      FROM sig s
      LEFT JOIN outc o ON o.user_id = s.user_id AND o.d = s.d AND o.ork = 1
    ),
    hold AS (
      SELECT CAST(SUM(CASE WHEN exit_value IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pending,
             CAST(SUM(CASE WHEN exit_value IS NULL
                                AND event_type = 'view'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hold
      FROM joined
    ),
    pairs AS (
      SELECT ROUND(conf, 6) AS conf,
             CASE WHEN exit_value > entry_value THEN 1.0 ELSE 0.0 END AS win
      FROM joined
      WHERE event_type = 'click' AND exit_value IS NOT NULL
            AND conf IS NOT NULL
    ),
    db_pairs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_db
      FROM (
        SELECT l.l_orderkey FROM lineitem l
        JOIN (SELECT l_orderkey AS ok2, MAX(l_linenumber) AS maxline
              FROM lineitem GROUP BY l_orderkey) m
          ON m.ok2 = l.l_orderkey AND l.l_linenumber = m.maxline
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY l.l_orderkey
      )
    ),
    quality AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             AVG((conf - win) * (conf - win)) AS brier
      FROM pairs
    ),
    bins AS (
      SELECT LEAST(CAST(FLOOR(conf * 10) AS INT), 9) AS bin,
             COUNT(*) AS bn, AVG(conf) AS mean_conf, AVG(win) AS win_rate
      FROM pairs GROUP BY 1
    ),
    ece AS (
      SELECT SUM(CAST(bn AS DOUBLE) / (SELECT n_pairs FROM quality)
                 * ABS(mean_conf - win_rate)) AS ece
      FROM bins
    ),
    g AS (
      SELECT h.n_pending, h.n_hold,
             CAST(h.n_hold AS DOUBLE) / NULLIF(h.n_pending, 0) * 100.0
               AS hold_pct,
             q.n_pairs, q.brier, e.ece, d.n_db
      FROM hold h, quality q, ece e, db_pairs d
    ),
    findings AS (
      SELECT 'hold_inflation' AS check_name,
             CASE WHEN hold_pct > {_PCA_HOLD_WARN} THEN 'WARN'
                  ELSE 'PASS' END AS status,
             CAST(n_hold AS DOUBLE) AS metric_a,
             CAST(n_pending AS DOUBLE) AS metric_b,
             ROUND(hold_pct, 6) AS metric_c
      FROM g
      UNION ALL
      SELECT 'calibration_active_tier',
             CASE WHEN n_pairs >= {_PCA_MIN_PAIRS} THEN 'PASS'
                  WHEN n_db >= {_PCA_MIN_PAIRS} THEN 'PASS'
                  WHEN n_db >= 10 THEN 'WARN' ELSE 'FAIL' END,
             CAST(n_pairs AS DOUBLE), CAST(n_db AS DOUBLE),
             CASE WHEN n_pairs >= {_PCA_MIN_PAIRS} THEN 1.0
                  WHEN n_db >= {_PCA_MIN_PAIRS} THEN 3.0
                  WHEN n_db >= 10 THEN 3.5 ELSE 0.0 END
      FROM g
      UNION ALL
      SELECT 'calibration_quality',
             CASE WHEN n_pairs < {_PCA_MIN_PAIRS} THEN 'SKIP'
                  WHEN ece > {_PCA_ECE_WARN} OR brier > {_PCA_BRIER_WARN}
                  THEN 'WARN' ELSE 'PASS' END,
             ROUND(ece, 6), ROUND(brier, 6), CAST(n_pairs AS DOUBLE)
      FROM g
      UNION ALL
      SELECT 'ts_closes_in_db',
             CASE WHEN n_db > 0 THEN 'PASS' ELSE 'FAIL' END,
             CAST(n_db AS DOUBLE), NULL, NULL
      FROM g
    )
    SELECT * FROM findings
    UNION ALL
    SELECT 'overall',
           CASE WHEN BOOL_OR(status = 'FAIL') THEN 'FAIL'
                WHEN BOOL_OR(status = 'WARN') THEN 'WARN'
                ELSE 'PASS' END,
           NULL, NULL, NULL
    FROM findings
    """,
)
def platt_contract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Platt calibration contract audit — reference
    `scripts/platt_contract_audit.py:42-465`: hold-inflation share of
    outcome-pending entries (HOLD signals are structurally
    unreconcilable; WARN past 30%), the calibration tier ladder (JSONL
    primary at >= 30 pairs, DB global fallback, partial-DB WARN, no-tier
    FAIL — metric_c carries the tier number), calibration quality
    (Brier vs the 0.25 no-skill baseline + 10-bin ECE vs 0.15) and the
    closed-TS-trades existence check, with the overall status folded
    exactly as `run_layer4_calibration` consumes it (FAIL > WARN >
    PASS).

    Scale: the signal-outcome join (key, day) + bounded censuses; the
    union is a constant 5 rows. No UDF, no collect."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    from ..functions.scalars import hash_unit_interval

    k = F.get_json_object("props", "$.k").cast("int")
    u = hash_unit_interval(F.lit("conf"), F.col("event_id"))
    e = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "event_type",
        k.alias("k"),
        F.to_date("ts").alias("d"),
        u.alias("u"),
    )
    sig = e.filter(
        F.col("event_type").isin("click", "view") & F.col("k").isNotNull()
    )
    outc = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("o_user"),
            F.col("d").alias("o_d"),
            F.col("value").alias("exit_value"),
            F.row_number()
            .over(
                Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
            )
            .alias("ork"),
        )
        .filter(F.col("ork") == 1)
    )
    joined = sig.join(
        outc,
        (F.col("o_user") == F.col("user_id")) & (F.col("o_d") == F.col("d")),
        "left",
    ).select(
        "event_id",
        "event_type",
        F.col("value").alias("entry_value"),
        F.when(F.col("u") < 0.08, F.lit(None).cast("double"))
        .otherwise(0.5 + F.col("u") / 2)
        .alias("conf"),
        "exit_value",
    )
    # ONE conditional-aggregate pass for the hold census AND the pair
    # quality (optimization round 13, guide §2.4): these were separate
    # aggregates over the same signal-outcome join, and together with the
    # ece/db crossJoins the join subtree was embedded 4x in the plan
    # (1,433 lines / 24 Exchanges). The pair predicate moves into
    # when()-guards (null-skipping aggregates see the identical row set
    # in the identical scan order); the <=10-row aggregates are pinned
    # with lazy checkpoints so every downstream reference is a scan.
    pair_cond = (
        (F.col("event_type") == "click")
        & F.col("exit_value").isNotNull()
        & F.col("conf").isNotNull()
    )
    conf6 = F.round("conf", 6)
    win = F.when(F.col("exit_value") > F.col("entry_value"), 1.0).otherwise(
        0.0
    )
    stats1 = joined.agg(
        F.sum(F.col("exit_value").isNull().cast("int"))
        .cast("bigint")
        .alias("n_pending"),
        F.sum(
            (F.col("exit_value").isNull() & (F.col("event_type") == "view"))
            .cast("int")
        )
        .cast("bigint")
        .alias("n_hold"),
        F.count(F.when(pair_cond, F.lit(1))).alias("n_pairs"),
        F.avg(
            F.when(pair_cond, (conf6 - win) * (conf6 - win))
        ).alias("brier"),
    ).localCheckpoint(eager=False)
    quality = stats1.select("n_pairs", "brier")
    bins = (
        joined.filter(pair_cond)
        .select(conf6.alias("conf"), win.alias("win"))
        .groupBy(
            F.least(F.floor(F.col("conf") * 10).cast("int"), F.lit(9)).alias(
                "bin"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.avg("conf").alias("mean_conf"),
            F.avg("win").alias("win_rate"),
        )
        .localCheckpoint(eager=False)
    )
    ece = bins.crossJoin(F.broadcast(quality.select("n_pairs"))).agg(
        F.sum(
            F.col("bn").cast("double")
            / F.col("n_pairs")
            * F.abs(F.col("mean_conf") - F.col("win_rate"))
        ).alias("ece")
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    m = li.groupBy("l_orderkey").agg(F.max("l_linenumber").alias("maxline"))
    db_pairs = (
        li.join(
            m,
            (li.l_orderkey == m.l_orderkey) & (li.l_linenumber == m.maxline),
        )
        .drop(m.l_orderkey)
        .join(
            o.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("l_orderkey")
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_db"))
        .localCheckpoint(eager=False)  # 1 row; referenced via g twice
    )
    g = (
        stats1.crossJoin(F.broadcast(ece))
        .crossJoin(F.broadcast(db_pairs))
        .withColumn(
            "hold_pct",
            F.col("n_hold").cast("double")
            / F.nullif(F.col("n_pending"), F.lit(0))
            * 100.0,
        )
    )
    rows = [
        F.struct(
            F.lit("hold_inflation").alias("check_name"),
            F.when(F.col("hold_pct") > _PCA_HOLD_WARN, "WARN")
            .otherwise("PASS")
            .alias("status"),
            F.col("n_hold").cast("double").alias("metric_a"),
            F.col("n_pending").cast("double").alias("metric_b"),
            F.round("hold_pct", 6).alias("metric_c"),
        ),
        F.struct(
            F.lit("calibration_active_tier").alias("check_name"),
            F.when(F.col("n_pairs") >= _PCA_MIN_PAIRS, "PASS")
            .when(F.col("n_db") >= _PCA_MIN_PAIRS, "PASS")
            .when(F.col("n_db") >= 10, "WARN")
            .otherwise("FAIL")
            .alias("status"),
            F.col("n_pairs").cast("double").alias("metric_a"),
            F.col("n_db").cast("double").alias("metric_b"),
            F.when(F.col("n_pairs") >= _PCA_MIN_PAIRS, 1.0)
            .when(F.col("n_db") >= _PCA_MIN_PAIRS, 3.0)
            .when(F.col("n_db") >= 10, 3.5)
            .otherwise(0.0)
            .alias("metric_c"),
        ),
        F.struct(
            F.lit("calibration_quality").alias("check_name"),
            F.when(F.col("n_pairs") < _PCA_MIN_PAIRS, "SKIP")
            .when(
                (F.col("ece") > _PCA_ECE_WARN)
                | (F.col("brier") > _PCA_BRIER_WARN),
                "WARN",
            )
            .otherwise("PASS")
            .alias("status"),
            F.round("ece", 6).alias("metric_a"),
            F.round("brier", 6).alias("metric_b"),
            F.col("n_pairs").cast("double").alias("metric_c"),
        ),
        F.struct(
            F.lit("ts_closes_in_db").alias("check_name"),
            F.when(F.col("n_db") > 0, "PASS").otherwise("FAIL").alias(
                "status"
            ),
            F.col("n_db").cast("double").alias("metric_a"),
            F.lit(None).cast("double").alias("metric_b"),
            F.lit(None).cast("double").alias("metric_c"),
        ),
    ]
    findings = g.select(F.explode(F.array(*rows)).alias("m")).select("m.*")
    overall = findings.agg(
        F.max(F.when(F.col("status") == "FAIL", 2))
        .alias("has_fail"),
        F.max(F.when(F.col("status") == "WARN", 1)).alias("has_warn"),
    ).select(
        F.lit("overall").alias("check_name"),
        F.when(F.col("has_fail") == 2, "FAIL")
        .when(F.col("has_warn") == 1, "WARN")
        .otherwise("PASS")
        .alias("status"),
        F.lit(None).cast("double").alias("metric_a"),
        F.lit(None).cast("double").alias("metric_b"),
        F.lit(None).cast("double").alias("metric_c"),
    )
    return findings.unionByName(overall)


# ---------------------------------------------------------------------------
# Forecast model comparison (per-ticker model aggregates)
# ---------------------------------------------------------------------------


@query(
    "forecast_model_comparison",
    oracle=f"""
    {_AUDIT_SQL},
    da AS (
      SELECT user_id,
             CAST(FLOOR((rn - 11) / {_ESAFE_BLOCK}) AS INT) AS audit_id,
             AVG(CASE WHEN (prev - prev) * (value - prev) > 0
                      THEN 1.0 ELSE 0.0 END) AS da_n,
             AVG(CASE WHEN (f_ma3 - prev) * (value - prev) > 0
                      THEN 1.0 ELSE 0.0 END) AS da_3,
             AVG(CASE WHEN (f_ma10 - prev) * (value - prev) > 0
                      THEN 1.0 ELSE 0.0 END) AS da_10,
             AVG(CASE WHEN ((prev + f_ma3 + f_ma10) / 3.0 - prev)
                           * (value - prev) > 0
                      THEN 1.0 ELSE 0.0 END) AS da_e
      FROM f
      GROUP BY user_id, CAST(FLOOR((rn - 11) / {_ESAFE_BLOCK}) AS INT)
      HAVING COUNT(*) = {_ESAFE_BLOCK}
    ),
    m AS (
      SELECT a.user_id,
             COUNT(*) AS n_windows,
             AVG(a.r_n) AS rmse_naive, AVG(a.r_3) AS rmse_ma3,
             AVG(a.r_10) AS rmse_ma10, AVG(a.r_e) AS rmse_ensemble,
             AVG(d.da_n) AS da_naive, AVG(d.da_3) AS da_ma3,
             AVG(d.da_10) AS da_ma10, AVG(d.da_e) AS da_ensemble
      FROM a JOIN da d ON d.user_id = a.user_id AND d.audit_id = a.audit_id
      GROUP BY a.user_id
    )
    SELECT user_id, CAST(n_windows AS BIGINT) AS n_windows,
           ROUND(rmse_naive, 6) AS rmse_naive,
           ROUND(rmse_ma3, 6) AS rmse_ma3,
           ROUND(rmse_ma10, 6) AS rmse_ma10,
           ROUND(rmse_ensemble, 6) AS rmse_ensemble,
           ROUND(da_naive, 6) AS da_naive,
           ROUND(da_ma3, 6) AS da_ma3,
           ROUND(da_ma10, 6) AS da_ma10,
           ROUND(da_ensemble, 6) AS da_ensemble,
           CASE WHEN rmse_naive <= rmse_ma3 AND rmse_naive <= rmse_ma10
                     AND rmse_naive <= rmse_ensemble THEN 'naive'
                WHEN rmse_ma3 <= rmse_ma10 AND rmse_ma3 <= rmse_ensemble
                THEN 'ma3'
                WHEN rmse_ma10 <= rmse_ensemble THEN 'ma10'
                ELSE 'ensemble' END AS best_model,
           ROUND((LEAST(rmse_naive, rmse_ma3, rmse_ma10) - rmse_ensemble)
                 / LEAST(rmse_naive, rmse_ma3, rmse_ma10) * 100.0, 6)
             AS ensemble_improvement_pct
    FROM m
    """,
)
def forecast_model_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker model comparison — reference
    `scripts/compare_forecast_models.py:36-160` (`_aggregate_by_ticker`
    + the report): mean RMSE and mean directional accuracy per model
    type across a ticker's forecast windows, the best model by mean
    RMSE (deterministic tie order naive < ma3 < ma10 < ensemble) and
    the ensemble's improvement over the best single model as a
    percentage (the script's headline column).

    Scale: one window pass + two (key, window) aggregations joined on
    their co-partitioned key. No UDF."""
    f = _baseline_forecasts(spark, sf_dir)

    def rmse(pred):
        return F.sqrt(F.avg(F.pow(F.col("value") - pred, 2)))

    def da(pred):
        return F.avg(
            F.when(
                (pred - F.col("prev")) * (F.col("value") - F.col("prev")) > 0,
                1.0,
            ).otherwise(0.0)
        )

    ens = (F.col("prev") + F.col("f_ma3") + F.col("f_ma10")) / 3.0
    a = (
        f.withColumn(
            "audit_id", F.floor((F.col("rn") - 11) / _ESAFE_BLOCK).cast("int")
        )
        .groupBy("user_id", "audit_id")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            rmse(F.col("prev")).alias("r_n"),
            rmse(F.col("f_ma3")).alias("r_3"),
            rmse(F.col("f_ma10")).alias("r_10"),
            rmse(ens).alias("r_e"),
            da(F.col("prev")).alias("da_n"),
            da(F.col("f_ma3")).alias("da_3"),
            da(F.col("f_ma10")).alias("da_10"),
            da(ens).alias("da_e"),
        )
        .filter(F.col("bn") == _ESAFE_BLOCK)
    )
    m = a.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.avg("r_n").alias("rmse_naive"),
        F.avg("r_3").alias("rmse_ma3"),
        F.avg("r_10").alias("rmse_ma10"),
        F.avg("r_e").alias("rmse_ensemble"),
        F.avg("da_n").alias("da_naive"),
        F.avg("da_3").alias("da_ma3"),
        F.avg("da_10").alias("da_ma10"),
        F.avg("da_e").alias("da_ensemble"),
    )
    best_single = F.least("rmse_naive", "rmse_ma3", "rmse_ma10")
    return m.select(
        "user_id",
        F.col("n_windows").cast("bigint").alias("n_windows"),
        r6(F.col("rmse_naive")).alias("rmse_naive"),
        r6(F.col("rmse_ma3")).alias("rmse_ma3"),
        r6(F.col("rmse_ma10")).alias("rmse_ma10"),
        r6(F.col("rmse_ensemble")).alias("rmse_ensemble"),
        r6(F.col("da_naive")).alias("da_naive"),
        r6(F.col("da_ma3")).alias("da_ma3"),
        r6(F.col("da_ma10")).alias("da_ma10"),
        r6(F.col("da_ensemble")).alias("da_ensemble"),
        F.when(
            (F.col("rmse_naive") <= F.col("rmse_ma3"))
            & (F.col("rmse_naive") <= F.col("rmse_ma10"))
            & (F.col("rmse_naive") <= F.col("rmse_ensemble")),
            "naive",
        )
        .when(
            (F.col("rmse_ma3") <= F.col("rmse_ma10"))
            & (F.col("rmse_ma3") <= F.col("rmse_ensemble")),
            "ma3",
        )
        .when(F.col("rmse_ma10") <= F.col("rmse_ensemble"), "ma10")
        .otherwise("ensemble")
        .alias("best_model"),
        r6(
            (best_single - F.col("rmse_ensemble")) / best_single * 100.0
        ).alias("ensemble_improvement_pct"),
    )


# ---------------------------------------------------------------------------
# Order-learner cache replay evidence
# ---------------------------------------------------------------------------

# Reference `scripts/replay_order_learner_cache.py:197-375`
# (`_summarize_cache_evidence` + `_summarize_fit_events`): the replay
# proves the cache actually learns — a BEFORE snapshot (the replay's
# starting cache) is diffed against the AFTER snapshot per model type:
# row counts, qualified rows (>= min_fits with a best AIC), n_fits
# deltas, new vs touched keys, and the actual fit events reconciled
# against cache writes (fits that did not produce a write are the
# anomaly the replay hunts). The engine's fit ledger is the audit-window
# frame — one fit per (key, window); the BEFORE snapshot is the first
# 60% of each key's windows.
_OCR_MIN_FITS = 3
_OCR_BEFORE_FRAC = 0.6


@query(
    "order_cache_replay_evidence",
    oracle=f"""
    {_AUDIT_SQL},
    fits AS (
      SELECT a.user_id,
             CASE a.user_id % 4 WHEN 0 THEN 'SARIMAX' WHEN 1 THEN 'GARCH'
                  WHEN 2 THEN 'SAMOSSA' ELSE 'MSSA_RL' END AS model_type,
             a.audit_id,
             a.r_e / LEAST(a.r_n, a.r_3, a.r_10) AS aic_proxy,
             MAX(a.audit_id) OVER (PARTITION BY a.user_id) AS max_aid
      FROM a
    ),
    snap AS (
      SELECT user_id, model_type,
             CAST(SUM(CASE WHEN audit_id
                           <= FLOOR(max_aid * {_OCR_BEFORE_FRAC})
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_fits_before,
             CAST(COUNT(*) AS BIGINT) AS n_fits_after,
             MIN(CASE WHEN audit_id <= FLOOR(max_aid * {_OCR_BEFORE_FRAC})
                      THEN aic_proxy END) AS best_aic_before,
             MIN(aic_proxy) AS best_aic_after
      FROM fits GROUP BY user_id, model_type
    ),
    per AS (
      SELECT model_type,
             CAST(SUM(CASE WHEN n_fits_before > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS rows_before,
             CAST(SUM(CASE WHEN n_fits_after > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS rows_after,
             CAST(SUM(CASE WHEN n_fits_before >= {_OCR_MIN_FITS}
                                AND best_aic_before IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS qualified_before,
             CAST(SUM(CASE WHEN n_fits_after >= {_OCR_MIN_FITS}
                                AND best_aic_after IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS qualified_after,
             CAST(SUM(n_fits_after - n_fits_before) AS BIGINT)
               AS n_fits_delta,
             CAST(SUM(CASE WHEN n_fits_before = 0 AND n_fits_after > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS new_rows,
             CAST(SUM(CASE WHEN n_fits_before > 0
                                AND n_fits_after > n_fits_before
                           THEN 1 ELSE 0 END) AS BIGINT) AS touched_rows
      FROM snap GROUP BY model_type
    ),
    ev2 AS (
      SELECT CASE user_id % 4 WHEN 0 THEN 'SARIMAX' WHEN 1 THEN 'GARCH'
                  WHEN 2 THEN 'SAMOSSA' ELSE 'MSSA_RL' END AS model_type,
             CAST(SUM(CASE WHEN audit_id
                           > FLOOR(max_aid * {_OCR_BEFORE_FRAC})
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS actual_fit_events
      FROM fits GROUP BY 1
    ),
    j AS (
      SELECT p.*, e.actual_fit_events,
             GREATEST(0, e.actual_fit_events - p.n_fits_delta)
               AS actual_without_cache_write
      FROM per p JOIN ev2 e ON e.model_type = p.model_type
    )
    SELECT model_type, rows_before, rows_after,
           rows_after - rows_before AS row_count_delta,
           qualified_before, qualified_after,
           qualified_after - qualified_before AS qualified_delta,
           n_fits_delta, new_rows, touched_rows,
           actual_fit_events, actual_without_cache_write
    FROM j
    UNION ALL
    SELECT 'ALL', CAST(SUM(rows_before) AS BIGINT),
           CAST(SUM(rows_after) AS BIGINT),
           CAST(SUM(rows_after - rows_before) AS BIGINT),
           CAST(SUM(qualified_before) AS BIGINT),
           CAST(SUM(qualified_after) AS BIGINT),
           CAST(SUM(qualified_after - qualified_before) AS BIGINT),
           CAST(SUM(n_fits_delta) AS BIGINT),
           CAST(SUM(new_rows) AS BIGINT),
           CAST(SUM(touched_rows) AS BIGINT),
           CAST(SUM(actual_fit_events) AS BIGINT),
           CAST(SUM(actual_without_cache_write) AS BIGINT)
    FROM j
    """,
)
def order_cache_replay_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-learner cache replay's learning evidence — reference
    `scripts/replay_order_learner_cache.py:197-375`: BEFORE vs AFTER
    cache snapshots diffed per model type (row counts, qualified rows
    with >= 3 fits and a best AIC, n_fits deltas, new vs touched keys)
    and the fit-event reconciliation (actual fits vs cache writes —
    fits without a write are the replay's anomaly). The fit ledger is
    one fit per audit window; BEFORE = each key's first 60% of windows.

    Scale: one (key, window) frame + two bounded model-type
    aggregations. No UDF."""
    a = _audit_windows(spark, sf_dir)
    model = (
        F.when(F.col("user_id") % 4 == 0, "SARIMAX")
        .when(F.col("user_id") % 4 == 1, "GARCH")
        .when(F.col("user_id") % 4 == 2, "SAMOSSA")
        .otherwise("MSSA_RL")
    )
    fits = a.select(
        "user_id",
        model.alias("model_type"),
        "audit_id",
        (F.col("r_e") / F.least("r_n", "r_3", "r_10")).alias("aic_proxy"),
        F.max("audit_id").over(Window.partitionBy("user_id")).alias("max_aid"),
    )
    cutoff = F.floor(F.col("max_aid") * _OCR_BEFORE_FRAC)
    snap = fits.groupBy("user_id", "model_type").agg(
        F.sum(F.when(F.col("audit_id") <= cutoff, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fits_before"),
        F.count(F.lit(1)).alias("n_fits_after"),
        F.min(F.when(F.col("audit_id") <= cutoff, F.col("aic_proxy"))).alias(
            "best_aic_before"
        ),
        F.min("aic_proxy").alias("best_aic_after"),
        # post-cutoff fit events ride the same pass (optimization round
        # 13, guide §2.4): the separate model_type aggregate re-embedded
        # the whole (key, window) subtree; summing these exact integer
        # partials per model_type below is the identical count
        F.sum(F.when(F.col("audit_id") > cutoff, 1).otherwise(0))
        .cast("bigint")
        .alias("n_fits_post"),
    )
    per = snap.groupBy("model_type").agg(
        F.sum(F.when(F.col("n_fits_before") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("rows_before"),
        F.sum(F.when(F.col("n_fits_after") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("rows_after"),
        F.sum(
            F.when(
                (F.col("n_fits_before") >= _OCR_MIN_FITS)
                & F.col("best_aic_before").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("qualified_before"),
        F.sum(
            F.when(
                (F.col("n_fits_after") >= _OCR_MIN_FITS)
                & F.col("best_aic_after").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("qualified_after"),
        F.sum(F.col("n_fits_after") - F.col("n_fits_before"))
        .cast("bigint")
        .alias("n_fits_delta"),
        F.sum(
            F.when(
                (F.col("n_fits_before") == 0) & (F.col("n_fits_after") > 0), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("new_rows"),
        F.sum(
            F.when(
                (F.col("n_fits_before") > 0)
                & (F.col("n_fits_after") > F.col("n_fits_before")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("touched_rows"),
        F.sum("n_fits_post").cast("bigint").alias("actual_fit_events"),
    )
    j = per.withColumn(
        "actual_without_cache_write",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.col("actual_fit_events") - F.col("n_fits_delta"),
        ),
    )
    out = j.select(
        "model_type",
        "rows_before",
        "rows_after",
        (F.col("rows_after") - F.col("rows_before")).alias("row_count_delta"),
        "qualified_before",
        "qualified_after",
        (F.col("qualified_after") - F.col("qualified_before")).alias(
            "qualified_delta"
        ),
        "n_fits_delta",
        "new_rows",
        "touched_rows",
        "actual_fit_events",
        "actual_without_cache_write",
    )
    allrow = out.agg(
        *[
            F.sum(cname).cast("bigint").alias(cname)
            for cname in out.columns
            if cname != "model_type"
        ]
    ).select(F.lit("ALL").alias("model_type"), "*")
    return out.unionByName(allrow.select(out.columns))


# ---------------------------------------------------------------------------
# Order-learner health check + SARIMAX convergence budget
# ---------------------------------------------------------------------------

# Reference `scripts/check_order_learner_health.py:59-194`: coverage
# (qualified cache entries exist), AIC drift (cached best mean AIC vs
# recent fits per model, alert past 10% relative drift) and staleness
# (entries unused for the trailing window, WARN past 30%); and
# `scripts/check_sarimax_convergence_budget.py:27-150`: the CI
# convergence-budget gate (primary non-convergence, fallback usage and
# fallback non-convergence rates vs their thresholds). The cache/fit
# frame is the audit-window ledger shared with the replay evidence.
_OLH_MIN_FITS = 3
_OLH_DRIFT = 0.10
_OLH_STALE_WINDOWS = 3
_OLH_STALE_WARN_PCT = 30.0
_SCB_MAX_PRIMARY = 0.50
_SCB_MAX_FB_NONCONV = 0.20
_SCB_MAX_FB_USAGE = 0.50
_SCB_POOR_FIT = 1.2
_SCB_BAD_FIT = 1.5

_OLH_FITS_SQL = f"""
    fits AS (
      SELECT a.user_id,
             CASE a.user_id % 4 WHEN 0 THEN 'SARIMAX' WHEN 1 THEN 'GARCH'
                  WHEN 2 THEN 'SAMOSSA' ELSE 'MSSA_RL' END AS model_type,
             a.audit_id,
             a.r_e / LEAST(a.r_n, a.r_3, a.r_10) AS aic_proxy,
             a.r_n <= a.r_3 AND a.r_n <= a.r_10 AS fallback_used,
             MAX(a.audit_id) OVER () AS global_max_aid
      FROM a
    )
"""


@query(
    "order_learner_health_check",
    oracle=f"""
    {_AUDIT_SQL},
    {_OLH_FITS_SQL},
    cache AS (
      SELECT user_id, model_type,
             CAST(COUNT(*) AS BIGINT) AS n_fits,
             MIN(aic_proxy) AS best_aic,
             AVG(aic_proxy) AS mean_aic,
             MAX(audit_id) AS last_used_aid,
             ANY_VALUE(global_max_aid) AS gmax
      FROM fits GROUP BY user_id, model_type
    ),
    cov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_entries,
             CAST(SUM(CASE WHEN n_fits >= {_OLH_MIN_FITS}
                                AND best_aic IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS qualified_entries
      FROM cache
    ),
    recent AS (
      SELECT model_type, AVG(aic_proxy) AS recent_mean
      FROM fits
      WHERE audit_id > global_max_aid - {_OLH_STALE_WINDOWS}
      GROUP BY model_type
    ),
    cached_best AS (
      SELECT model_type, MIN(mean_aic) AS cached_mean
      FROM cache WHERE n_fits > 0 AND best_aic IS NOT NULL
      GROUP BY model_type
    ),
    drift AS (
      SELECT cb.model_type,
             ROUND(cb.cached_mean, 6) AS cached_mean_aic,
             ROUND(r.recent_mean, 6) AS recent_mean_aic,
             ROUND((cb.cached_mean - r.recent_mean)
                   / ABS(r.recent_mean) * 100, 1) AS drift_pct
      FROM cached_best cb
      JOIN recent r ON r.model_type = cb.model_type
      WHERE r.recent_mean > 0
        AND (cb.cached_mean - r.recent_mean) / ABS(r.recent_mean)
            > {_OLH_DRIFT}
    ),
    stale AS (
      SELECT CAST(SUM(CASE WHEN last_used_aid
                           < gmax - {_OLH_STALE_WINDOWS}
                           THEN 1 ELSE 0 END) AS BIGINT) AS stale_entries,
             CAST(COUNT(*) AS BIGINT) AS total_entries
      FROM cache
    )
    SELECT 'coverage' AS check_name,
           CASE WHEN qualified_entries > 0 THEN 'OK' ELSE 'WARN' END
             AS status,
           CAST(NULL AS VARCHAR) AS model_type,
           CAST(total_entries AS DOUBLE) AS metric_a,
           CAST(qualified_entries AS DOUBLE) AS metric_b,
           CAST(NULL AS DOUBLE) AS metric_c
    FROM cov
    UNION ALL
    SELECT 'aic_drift',
           CASE WHEN (SELECT COUNT(*) FROM drift) > 0 THEN 'WARN'
                ELSE 'OK' END,
           NULL, CAST((SELECT COUNT(*) FROM drift) AS DOUBLE), NULL, NULL
    UNION ALL
    SELECT 'aic_drift_alert', 'WARN', model_type,
           cached_mean_aic, recent_mean_aic, drift_pct
    FROM drift
    UNION ALL
    SELECT 'stale',
           CASE WHEN CAST(stale_entries AS DOUBLE) / total_entries * 100
                     > {_OLH_STALE_WARN_PCT}
                THEN 'WARN' ELSE 'OK' END,
           NULL,
           CAST(stale_entries AS DOUBLE),
           CAST(total_entries AS DOUBLE),
           ROUND(CAST(stale_entries AS DOUBLE) / total_entries * 100, 1)
    FROM stale
    """,
)
def order_learner_health_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-learner cache health — reference
    `scripts/check_order_learner_health.py:59-194`: the coverage check
    (qualified entries with >= 3 fits and a best AIC exist), the AIC
    drift check (cached best mean AIC per model vs the recent-fit mean,
    alert rows past 10% relative drift) and the staleness check
    (entries unused over the trailing windows, WARN past 30%).

    Scale: the audit-window fit ledger + three bounded aggregations.
    No UDF."""
    cache, fits = _olh_frames(spark, sf_dir)
    cov = cache.agg(
        F.count(F.lit(1)).alias("total_entries"),
        F.sum(
            F.when(
                (F.col("n_fits") >= _OLH_MIN_FITS)
                & F.col("best_aic").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("qualified_entries"),
    )
    recent = (
        fits.filter(
            F.col("audit_id") > F.col("global_max_aid") - _OLH_STALE_WINDOWS
        )
        .groupBy("model_type")
        .agg(F.avg("aic_proxy").alias("recent_mean"))
    )
    cached_best = (
        cache.filter((F.col("n_fits") > 0) & F.col("best_aic").isNotNull())
        .groupBy("model_type")
        .agg(F.min("mean_aic").alias("cached_mean"))
    )
    drift = (
        cached_best.join(recent, "model_type")
        .filter(
            (F.col("recent_mean") > 0)
            & (
                (F.col("cached_mean") - F.col("recent_mean"))
                / F.abs(F.col("recent_mean"))
                > _OLH_DRIFT
            )
        )
        .select(
            "model_type",
            F.round("cached_mean", 6).alias("cached_mean_aic"),
            F.round("recent_mean", 6).alias("recent_mean_aic"),
            F.round(
                (F.col("cached_mean") - F.col("recent_mean"))
                / F.abs(F.col("recent_mean"))
                * 100,
                1,
            ).alias("drift_pct"),
        )
    )
    stale = cache.agg(
        F.sum(
            F.when(
                F.col("last_used_aid") < F.col("gmax") - _OLH_STALE_WINDOWS, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("stale_entries"),
        F.count(F.lit(1)).alias("total_entries"),
    )
    n_drift = drift.agg(F.count(F.lit(1)).alias("n_alerts"))
    covrow = cov.select(
        F.lit("coverage").alias("check_name"),
        F.when(F.col("qualified_entries") > 0, "OK")
        .otherwise("WARN")
        .alias("status"),
        F.lit(None).cast("string").alias("model_type"),
        F.col("total_entries").cast("double").alias("metric_a"),
        F.col("qualified_entries").cast("double").alias("metric_b"),
        F.lit(None).cast("double").alias("metric_c"),
    )
    driftrow = n_drift.select(
        F.lit("aic_drift").alias("check_name"),
        F.when(F.col("n_alerts") > 0, "WARN").otherwise("OK").alias("status"),
        F.lit(None).cast("string").alias("model_type"),
        F.col("n_alerts").cast("double").alias("metric_a"),
        F.lit(None).cast("double").alias("metric_b"),
        F.lit(None).cast("double").alias("metric_c"),
    )
    alertrows = drift.select(
        F.lit("aic_drift_alert").alias("check_name"),
        F.lit("WARN").alias("status"),
        F.col("model_type"),
        F.col("cached_mean_aic").alias("metric_a"),
        F.col("recent_mean_aic").alias("metric_b"),
        F.col("drift_pct").alias("metric_c"),
    )
    stale_pct = (
        F.col("stale_entries").cast("double") / F.col("total_entries") * 100
    )
    stalerow = stale.select(
        F.lit("stale").alias("check_name"),
        F.when(stale_pct > _OLH_STALE_WARN_PCT, "WARN")
        .otherwise("OK")
        .alias("status"),
        F.lit(None).cast("string").alias("model_type"),
        F.col("stale_entries").cast("double").alias("metric_a"),
        F.col("total_entries").cast("double").alias("metric_b"),
        F.round(stale_pct, 1).alias("metric_c"),
    )
    return (
        covrow.unionByName(driftrow)
        .unionByName(alertrows)
        .unionByName(stalerow)
    )


@session_frame_cache
def _olh_frames(spark: SparkSession, sf_dir: str):
    """(cache, fits) frames shared by the learner-health and budget checks."""
    a = _audit_windows(spark, sf_dir)
    model = (
        F.when(F.col("user_id") % 4 == 0, "SARIMAX")
        .when(F.col("user_id") % 4 == 1, "GARCH")
        .when(F.col("user_id") % 4 == 2, "SAMOSSA")
        .otherwise("MSSA_RL")
    )
    base = a.select(
        "user_id",
        model.alias("model_type"),
        "audit_id",
        (F.col("r_e") / F.least("r_n", "r_3", "r_10")).alias("aic_proxy"),
        (
            (F.col("r_n") <= F.col("r_3")) & (F.col("r_n") <= F.col("r_10"))
        ).alias("fallback_used"),
    ).localCheckpoint()
    # global max as a one-row broadcast scalar, not Window.partitionBy()
    # (which would funnel the whole fits frame through one task)
    fits = base.crossJoin(
        F.broadcast(base.agg(F.max("audit_id").alias("global_max_aid")))
    )
    cache = fits.groupBy("user_id", "model_type").agg(
        F.count(F.lit(1)).alias("n_fits"),
        F.min("aic_proxy").alias("best_aic"),
        F.avg("aic_proxy").alias("mean_aic"),
        F.max("audit_id").alias("last_used_aid"),
        F.any_value("global_max_aid").alias("gmax"),
    )
    return cache, fits


@query(
    "sarimax_convergence_budget",
    oracle=f"""
    {_AUDIT_SQL},
    {_OLH_FITS_SQL},
    sx AS (SELECT * FROM fits WHERE model_type = 'SARIMAX'),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_runs,
             CAST(SUM(CASE WHEN aic_proxy > {_SCB_POOR_FIT}
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS primary_nonconverged,
             CAST(SUM(CASE WHEN fallback_used THEN 1 ELSE 0 END) AS BIGINT)
               AS fallback_used,
             CAST(SUM(CASE WHEN fallback_used AND aic_proxy > {_SCB_BAD_FIT}
                           THEN 1 ELSE 0 END) AS BIGINT)
               AS fallback_nonconverged
      FROM sx
    )
    SELECT total_runs, primary_nonconverged, fallback_used,
           fallback_nonconverged,
           ROUND(CAST(primary_nonconverged AS DOUBLE) / total_runs, 6)
             AS primary_nonconverged_rate,
           ROUND(CAST(fallback_used AS DOUBLE) / total_runs, 6)
             AS fallback_usage_rate,
           ROUND(CAST(fallback_nonconverged AS DOUBLE)
                 / NULLIF(fallback_used, 0), 6)
             AS fallback_nonconverged_rate,
           CONCAT_WS(',',
             CASE WHEN CAST(primary_nonconverged AS DOUBLE) / total_runs
                       > {_SCB_MAX_PRIMARY}
                  THEN 'primary_nonconverged_over_budget' END,
             CASE WHEN CAST(fallback_used AS DOUBLE) / total_runs
                       > {_SCB_MAX_FB_USAGE}
                  THEN 'fallback_usage_over_budget' END,
             CASE WHEN CAST(fallback_nonconverged AS DOUBLE)
                       / NULLIF(fallback_used, 0) > {_SCB_MAX_FB_NONCONV}
                  THEN 'fallback_nonconverged_over_budget' END)
             AS violations,
           CASE WHEN CAST(primary_nonconverged AS DOUBLE) / total_runs
                     <= {_SCB_MAX_PRIMARY}
                  AND CAST(fallback_used AS DOUBLE) / total_runs
                      <= {_SCB_MAX_FB_USAGE}
                  AND COALESCE(CAST(fallback_nonconverged AS DOUBLE)
                       / NULLIF(fallback_used, 0), 0.0)
                      <= {_SCB_MAX_FB_NONCONV}
                THEN 'PASS' ELSE 'FAIL' END AS gate_status
    FROM g
    """,
)
def sarimax_convergence_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SARIMAX convergence-budget CI gate — reference
    `scripts/check_sarimax_convergence_budget.py:27-150`: the primary
    non-convergence rate (0.50 budget), fallback-usage rate (0.50) and
    fallback non-convergence rate (0.20) over the SARIMAX fit events,
    failing the gate when any budget is exceeded. Non-convergence =
    the fit's RMSE ratio exceeds the poor-fit band; fallback = the
    naive model won the window.

    Scale: one bounded census over the fit ledger. No UDF."""
    _, fits = _olh_frames(spark, sf_dir)
    sx = fits.filter(F.col("model_type") == "SARIMAX")
    g = sx.agg(
        F.count(F.lit(1)).alias("total_runs"),
        F.sum(F.when(F.col("aic_proxy") > _SCB_POOR_FIT, 1).otherwise(0))
        .cast("bigint")
        .alias("primary_nonconverged"),
        F.sum(F.col("fallback_used").cast("int"))
        .cast("bigint")
        .alias("fallback_used"),
        F.sum(
            F.when(
                F.col("fallback_used") & (F.col("aic_proxy") > _SCB_BAD_FIT),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("fallback_nonconverged"),
    )
    pr = F.col("primary_nonconverged").cast("double") / F.col("total_runs")
    fu = F.col("fallback_used").cast("double") / F.col("total_runs")
    fn = F.col("fallback_nonconverged").cast("double") / F.nullif(
        F.col("fallback_used"), F.lit(0)
    )
    return g.select(
        "total_runs",
        "primary_nonconverged",
        "fallback_used",
        "fallback_nonconverged",
        r6(pr).alias("primary_nonconverged_rate"),
        r6(fu).alias("fallback_usage_rate"),
        r6(fn).alias("fallback_nonconverged_rate"),
        F.concat_ws(
            ",",
            F.when(pr > _SCB_MAX_PRIMARY, "primary_nonconverged_over_budget"),
            F.when(fu > _SCB_MAX_FB_USAGE, "fallback_usage_over_budget"),
            F.when(
                fn > _SCB_MAX_FB_NONCONV, "fallback_nonconverged_over_budget"
            ),
        ).alias("violations"),
        F.when(
            (pr <= _SCB_MAX_PRIMARY)
            & (fu <= _SCB_MAX_FB_USAGE)
            & (F.coalesce(fn, F.lit(0.0)) <= _SCB_MAX_FB_NONCONV),
            "PASS",
        )
        .otherwise("FAIL")
        .alias("gate_status"),
    )


# ---------------------------------------------------------------------------
# Ensemble health audit (scripts/ensemble_health_audit.py)
# ---------------------------------------------------------------------------

# Reference `scripts/ensemble_health_audit.py`: per-model OOS decomposition
# over deduplicated audit windows (`compute_per_model_summary`, `:296-331`),
# the adaptive candidate-weight formula (`compute_adaptive_weights`,
# `:383-580`: exp-decay on mean-RMSE/median ratio, hard zero past 1.2x the
# median, DA-floor penalty capping low-DA models at da_cap_weight with the
# all-DA-zero RMSE-only fallback, post-normalization cap redistribution to
# non-penalized models only, and the 0.90 diversity guard), and the
# bootstrap lift-significance CI (`compute_lift_significance`, `:600-680`).
# The engine equivalent derives audit windows from the events series the
# same way the ensemble-safety frame does (naive / trailing-MA3 / MA10
# single models + their mean as the ensemble, 15-row windows), mirrors the
# reference's window exclusion rule (ensemble RMSE > 3x best single,
# `extract_window_metrics:231-239`) and its best-single tie-break
# (min RMSE, then min sMAPE, then model order, `:221-229`). Ensemble
# weights per window are the previous window's normalized inverse RMSE
# (first window uniform) — the engine's stand-in for the stored
# `ensemble_weights` payload the reference reads back from audit JSONs.
_EH_BLOCK = 15          # rows per audit window (full windows only)
_EH_RECENT = 4          # recent_n windows per key for adaptive weights
_EH_DA_FLOOR = 0.10     # da_floor
_EH_DA_CAP = 0.10       # da_cap_weight
_EH_TOP_CLAMP = 0.90    # diversity guard top-weight clamp

_EH_SQL = f"""
    WITH s AS ({_S_SQL}),
    f AS (
      SELECT user_id, rn, value,
             LAG(value, 1) OVER wp AS p_naive,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
               AS p_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
               AS p_ma10
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
      QUALIFY rn >= 11
    ),
    e AS (
      SELECT user_id, rn, value,
             CAST(FLOOR((rn - 11) / {_EH_BLOCK}) AS INT) AS audit_id,
             p_naive, p_ma3, p_ma10,
             (p_naive + p_ma3 + p_ma10) / 3.0 AS p_ens
      FROM f
    ),
    long AS (
      SELECT e.user_id, e.audit_id, e.rn, e.value, m.model, m.model_ord,
             CASE m.model WHEN 'naive' THEN e.p_naive
                          WHEN 'ma3' THEN e.p_ma3
                          WHEN 'ma10' THEN e.p_ma10
                          ELSE e.p_ens END AS pred
      FROM e CROSS JOIN (VALUES ('naive', 0), ('ma3', 1), ('ma10', 2),
                                ('ens', 3)) AS m(model, model_ord)
    ),
    lagd AS (
      SELECT long.*,
             LAG(value) OVER wlm AS a_prev,
             LAG(pred) OVER wlm AS p_prev
      FROM long
      WINDOW wlm AS (PARTITION BY user_id, audit_id, model ORDER BY rn)
    ),
    wm AS (
      SELECT user_id, audit_id, model, model_ord,
             SQRT(AVG(POWER(value - pred, 2))) AS rmse,
             2.0 * AVG(ABS(value - pred)
                   / GREATEST(ABS(value) + ABS(pred), {_FM_EPS})) AS smape,
             AVG(CASE WHEN a_prev IS NOT NULL THEN
               CASE WHEN SIGN(value - a_prev) = SIGN(pred - p_prev)
                    THEN 1.0 ELSE 0.0 END END) AS da
      FROM lagd
      GROUP BY user_id, audit_id, model, model_ord
      HAVING COUNT(*) = {_EH_BLOCK}
    ),
    wwin AS (
      SELECT user_id, audit_id,
             MIN(CASE WHEN model <> 'ens' THEN rmse END) AS best_rmse,
             MAX(CASE WHEN model = 'ens' THEN rmse END) AS ens_rmse
      FROM wm GROUP BY user_id, audit_id
    ),
    best AS (
      SELECT user_id, audit_id, model AS best_model
      FROM (SELECT wm.*, ROW_NUMBER() OVER (
                PARTITION BY user_id, audit_id
                ORDER BY rmse, smape, model_ord) AS brn
            FROM wm WHERE model <> 'ens') b
      WHERE brn = 1
    ),
    win AS (
      SELECT w.user_id, w.audit_id, w.best_rmse, w.ens_rmse, b.best_model,
             w.ens_rmse / w.best_rmse AS rmse_ratio
      FROM wwin w JOIN best b ON b.user_id = w.user_id
                             AND b.audit_id = w.audit_id
      WHERE w.ens_rmse <= 3.0 * w.best_rmse
    ),
    mw AS (
      SELECT t.user_id, t.audit_id, t.model, t.model_ord,
             t.rmse, t.smape, t.da,
             LAG(t.rmse) OVER (PARTITION BY t.user_id, t.model
                               ORDER BY t.audit_id) AS rmse_prev
      FROM wm t JOIN win w ON w.user_id = t.user_id
                          AND w.audit_id = t.audit_id
      WHERE t.model <> 'ens'
    ),
    wts AS (
      SELECT user_id, audit_id, model, model_ord, rmse, smape, da,
             CASE WHEN SUM(CASE WHEN rmse_prev IS NOT NULL THEN 1 ELSE 0 END)
                       OVER wu = 3
                  THEN (1.0 / GREATEST(rmse_prev, {_FM_EPS}))
                       / SUM(1.0 / GREATEST(rmse_prev, {_FM_EPS})) OVER wu
                  ELSE 1.0 / 3.0 END AS weight
      FROM mw WINDOW wu AS (PARTITION BY user_id, audit_id)
    )
"""


@session_frame_cache
def _eh_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(wts, win) — the ensemble-health audit-window frames.

    ``wts``: one row per (key, window, single model) with window RMSE /
    sMAPE / directional accuracy plus the ensemble weight used in that
    window (previous surviving window's normalized inverse RMSE, uniform
    on the first). ``win``: one row per surviving window with the
    best-single winner (RMSE → sMAPE → model-order tie-break) and the
    ensemble RMSE; windows whose ensemble RMSE exceeds 3x the best single
    are excluded, mirroring `extract_window_metrics`'s skip rule. All
    window math partitions by user_id; the per-(key, window, model)
    aggregate is map-side combinable, so the frame costs one shuffle on
    the series plus one fine-grained groupBy at any scale."""
    s = _series(spark, sf_dir).select("user_id", "rn", "value")
    wp = Window.partitionBy("user_id").orderBy("rn")
    f = s.select(
        "user_id",
        "rn",
        "value",
        F.lag("value", 1).over(wp).alias("p_naive"),
        F.avg("value").over(wp.rowsBetween(-3, -1)).alias("p_ma3"),
        F.avg("value").over(wp.rowsBetween(-10, -1)).alias("p_ma10"),
    ).filter(F.col("rn") >= 11)
    e = f.select(
        "user_id",
        "rn",
        "value",
        F.floor((F.col("rn") - 11) / _EH_BLOCK).cast("int").alias("audit_id"),
        "p_naive",
        "p_ma3",
        "p_ma10",
        ((F.col("p_naive") + F.col("p_ma3") + F.col("p_ma10")) / 3.0).alias(
            "p_ens"
        ),
    )
    models = literal_grid(
        spark,
        [("naive", 0), ("ma3", 1), ("ma10", 2), ("ens", 3)],
        "model string, model_ord int",
    )
    long = e.crossJoin(F.broadcast(models)).select(
        "user_id",
        "audit_id",
        "rn",
        "value",
        "model",
        "model_ord",
        F.when(F.col("model") == "naive", F.col("p_naive"))
        .when(F.col("model") == "ma3", F.col("p_ma3"))
        .when(F.col("model") == "ma10", F.col("p_ma10"))
        .otherwise(F.col("p_ens"))
        .alias("pred"),
    )
    wlm = Window.partitionBy("user_id", "audit_id", "model").orderBy("rn")
    lagd = long.select(
        "*",
        F.lag("value").over(wlm).alias("a_prev"),
        F.lag("pred").over(wlm).alias("p_prev"),
    )
    resid = F.col("value") - F.col("pred")
    da_term = F.when(
        F.col("a_prev").isNotNull(),
        F.when(
            F.signum(F.col("value") - F.col("a_prev"))
            == F.signum(F.col("pred") - F.col("p_prev")),
            1.0,
        ).otherwise(0.0),
    )
    wm = (
        lagd.groupBy("user_id", "audit_id", "model", "model_ord")
        .agg(
            F.count(F.lit(1)).alias("bn"),
            F.sqrt(F.avg(F.pow(resid, 2))).alias("rmse"),
            (
                2.0
                * F.avg(
                    F.abs(resid)
                    / F.greatest(
                        F.abs(F.col("value")) + F.abs(F.col("pred")),
                        F.lit(_FM_EPS),
                    )
                )
            ).alias("smape"),
            F.avg(da_term).alias("da"),
        )
        .filter(F.col("bn") == _EH_BLOCK)
        .drop("bn")
    )
    wwin = wm.groupBy("user_id", "audit_id").agg(
        F.min(F.when(F.col("model") != "ens", F.col("rmse"))).alias(
            "best_rmse"
        ),
        F.max(F.when(F.col("model") == "ens", F.col("rmse"))).alias(
            "ens_rmse"
        ),
    )
    wbest = Window.partitionBy("user_id", "audit_id").orderBy(
        "rmse", "smape", "model_ord"
    )
    best = (
        wm.filter(F.col("model") != "ens")
        .select("user_id", "audit_id", "model", F.row_number().over(wbest).alias("brn"))
        .filter(F.col("brn") == 1)
        .select("user_id", "audit_id", F.col("model").alias("best_model"))
    )
    win = (
        wwin.join(best, ["user_id", "audit_id"])
        .filter(F.col("ens_rmse") <= 3.0 * F.col("best_rmse"))
        .select(
            "user_id",
            "audit_id",
            "best_rmse",
            "ens_rmse",
            "best_model",
            (F.col("ens_rmse") / F.col("best_rmse")).alias("rmse_ratio"),
        )
    )
    wlagm = Window.partitionBy("user_id", "model").orderBy("audit_id")
    mw = (
        wm.filter(F.col("model") != "ens")
        .join(win.select("user_id", "audit_id"), ["user_id", "audit_id"])
        .select(
            "user_id",
            "audit_id",
            "model",
            "model_ord",
            "rmse",
            "smape",
            "da",
            F.lag("rmse").over(wlagm).alias("rmse_prev"),
        )
    )
    wu = Window.partitionBy("user_id", "audit_id")
    inv_prev = 1.0 / F.greatest(F.col("rmse_prev"), F.lit(_FM_EPS))
    wts = mw.select(
        "user_id",
        "audit_id",
        "model",
        "model_ord",
        "rmse",
        "smape",
        "da",
        F.when(
            F.sum(
                F.when(F.col("rmse_prev").isNotNull(), 1).otherwise(0)
            ).over(wu)
            == 3,
            inv_prev / F.sum(inv_prev).over(wu),
        )
        .otherwise(1.0 / 3.0)
        .alias("weight"),
    )
    # the memo shares the frame OBJECTS but each of the six member
    # queries still executed the whole window pipeline at its action —
    # materialize both frames once (they are (key, window[, model])
    # grain, orders of magnitude smaller than the series; optimization
    # round 12, guide §2.4)
    return wts.localCheckpoint(eager=False), win.localCheckpoint(eager=False)


@query(
    "ensemble_health_model_summary",
    oracle=f"""
    {_EH_SQL},
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_windows FROM win)
    SELECT t.model,
           ROUND(AVG(t.rmse), 6) AS mean_rmse,
           ROUND(QUANTILE_CONT(t.rmse, 0.5), 6) AS median_rmse,
           ROUND(AVG(t.da), 6) AS mean_da,
           CAST(SUM(CASE WHEN w.best_model = t.model THEN 1 ELSE 0 END)
                AS BIGINT) AS times_best_single,
           ROUND(SUM(CASE WHEN w.best_model = t.model THEN 1.0 ELSE 0.0 END)
                 / MAX(tt.n_windows), 6) AS pct_best_single,
           ROUND(AVG(t.weight), 6) AS mean_weight_when_selected,
           CAST(SUM(CASE WHEN t.da < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
             AS da_zero_windows,
           CAST(MAX(tt.n_windows) AS BIGINT) AS n_windows
    FROM wts t
    JOIN win w ON w.user_id = t.user_id AND w.audit_id = t.audit_id
    CROSS JOIN tot tt
    GROUP BY t.model
    """,
)
def ensemble_health_model_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-model health decomposition across all audit windows — reference
    `scripts/ensemble_health_audit.py:296-331` (`compute_per_model_summary`):
    mean/median RMSE, mean directional accuracy, times-best-single under
    the reference tie-break (min RMSE, then min sMAPE, then model order,
    `:221-229`), the DA=0 anomaly census (DA < 0.01 windows — the
    near-flat-forecast pathology the report warns about, `:720-727`) and
    the mean ensemble weight each model carried when selected. Three
    output rows; the whole fleet reduces map-side after the shared
    window-frame shuffle."""
    wts, win = _eh_frames(spark, sf_dir)
    tot = win.agg(F.count(F.lit(1)).cast("long").alias("n_windows"))
    joined = wts.join(win, ["user_id", "audit_id"]).crossJoin(F.broadcast(tot))
    is_best = F.when(F.col("best_model") == F.col("model"), 1).otherwise(0)
    return joined.groupBy("model").agg(
        r6(F.avg("rmse")).alias("mean_rmse"),
        r6(F.percentile("rmse", F.lit(0.5))).alias("median_rmse"),
        r6(F.avg("da")).alias("mean_da"),
        F.sum(is_best).cast("long").alias("times_best_single"),
        r6(F.sum(is_best.cast("double")) / F.max("n_windows")).alias(
            "pct_best_single"
        ),
        r6(F.avg("weight")).alias("mean_weight_when_selected"),
        F.sum(F.when(F.col("da") < 0.01, 1).otherwise(0))
        .cast("long")
        .alias("da_zero_windows"),
        F.max("n_windows").cast("long").alias("n_windows"),
    )


def eh_adaptive_weight_frame(recm: DataFrame) -> DataFrame:
    """The adaptive candidate-weight algebra of
    `scripts/ensemble_health_audit.py:383-580` over a per-key frame of
    (user_id, model, model_ord, mean_rmse, mean_da) rows, three models
    per key. Every step is a window expression over the 3-row key group:
    exp-decay raw weights with the hard zero past 1.2x the median RMSE
    (median of three = sum - max - min, interpolation-free), the DA-floor
    penalty with pre- and post-normalization caps and redistribution of
    the remaining budget to non-penalized models only, the all-DA-zero
    RMSE-only fallback, and the 0.90 diversity clamp with proportional
    redistribution. Factored out so planted-fixture tests can drive every
    branch (real series rarely trip the DA floor)."""
    wu = Window.partitionBy("user_id")
    m1 = recm.select(
        "*",
        (
            F.sum("mean_rmse").over(wu)
            - F.max("mean_rmse").over(wu)
            - F.min("mean_rmse").over(wu)
        ).alias("med"),
        F.max(
            F.when(F.col("mean_da") >= _EH_DA_FLOOR, 1).otherwise(0)
        )
        .over(wu)
        .alias("any_da_ok"),
    )
    m2 = m1.select(
        "*",
        F.when(F.col("mean_rmse") * 10.0 > F.col("med") * 12.0, 0.0)
        .when(F.col("med") > 0, F.exp(-F.col("mean_rmse") / F.col("med")))
        .otherwise(F.exp(F.lit(-1.0)))
        .alias("raw0"),
        F.when(
            (F.col("any_da_ok") == 1) & (F.col("mean_da") < _EH_DA_FLOOR), 1
        )
        .otherwise(0)
        .alias("pen"),
    )
    m2b = m2.select(
        "*",
        F.when(
            (F.col("pen") == 1) & (F.col("raw0") > _EH_DA_CAP),
            F.lit(_EH_DA_CAP),
        )
        .otherwise(F.col("raw0"))
        .alias("raw"),
    )
    m3 = m2b.select(
        "*",
        F.when(
            F.sum("raw").over(wu) <= 0, 1.0 / 3.0
        )
        .otherwise(F.col("raw") / F.sum("raw").over(wu))
        .alias("adaptive"),
    )
    m4 = m3.select(
        "*",
        F.when(
            (F.col("pen") == 1) & (F.col("adaptive") > _EH_DA_CAP), 1
        )
        .otherwise(0)
        .alias("cap_flag"),
    ).select(
        "*",
        F.max("cap_flag").over(wu).alias("capped_any"),
        F.when(F.col("cap_flag") == 1, F.lit(_EH_DA_CAP))
        .otherwise(F.col("adaptive"))
        .alias("a2"),
    )
    m5 = m4.select(
        "*",
        F.sum(F.when(F.col("pen") == 1, F.col("a2")).otherwise(0.0))
        .over(wu)
        .alias("pen_sum"),
        F.sum(F.when(F.col("pen") == 0, F.col("a2")).otherwise(0.0))
        .over(wu)
        .alias("np_sum"),
        F.sum(F.when(F.col("pen") == 0, 1).otherwise(0))
        .over(wu)
        .alias("np_cnt"),
    ).select(
        "*",
        F.when(F.col("capped_any") == 0, F.col("adaptive"))
        .when(F.col("pen") == 1, F.col("a2"))
        .when(
            F.col("np_sum") > 0,
            F.col("a2")
            / F.col("np_sum")
            * F.greatest(F.lit(0.0), 1.0 - F.col("pen_sum")),
        )
        .otherwise(
            F.greatest(F.lit(0.0), 1.0 - F.col("pen_sum")) / F.col("np_cnt")
        )
        .alias("a3"),
    )
    wrnk = Window.partitionBy("user_id").orderBy(
        F.col("a3").desc(), "model_ord"
    )
    m6 = m5.select("*", F.row_number().over(wrnk).alias("rnk"))
    m7 = m6.select(
        "*",
        F.max(F.when(F.col("rnk") == 1, F.col("a3"))).over(wu).alias("top_w"),
        F.sum(F.when(F.col("rnk") > 1, F.col("a3")).otherwise(0.0))
        .over(wu)
        .alias("oth"),
    )
    return m7.select(
        "*",
        F.when(F.col("top_w") <= _EH_TOP_CLAMP, F.col("a3"))
        .when(F.col("rnk") == 1, F.lit(_EH_TOP_CLAMP))
        .when(
            F.col("oth") > 0,
            F.col("a3")
            + (F.col("top_w") - _EH_TOP_CLAMP) * F.col("a3") / F.col("oth"),
        )
        .otherwise(F.col("a3") + (F.col("top_w") - _EH_TOP_CLAMP) / 2.0)
        .alias("final"),
    )


@query(
    "ensemble_adaptive_weights",
    oracle=f"""
    {_EH_SQL},
    rec AS (
      SELECT user_id, audit_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY audit_id DESC)
               AS rec_rank
      FROM win
    ),
    recm AS (
      SELECT t.user_id, t.model, t.model_ord,
             AVG(t.rmse) AS mean_rmse, AVG(t.da) AS mean_da
      FROM wts t JOIN rec r ON r.user_id = t.user_id
                           AND r.audit_id = t.audit_id
      WHERE r.rec_rank <= {_EH_RECENT}
      GROUP BY t.user_id, t.model, t.model_ord
    ),
    m1 AS (
      SELECT *,
             SUM(mean_rmse) OVER wu - MAX(mean_rmse) OVER wu
               - MIN(mean_rmse) OVER wu AS med,
             MAX(CASE WHEN mean_da >= {_EH_DA_FLOOR} THEN 1 ELSE 0 END)
               OVER wu AS any_da_ok
      FROM recm WINDOW wu AS (PARTITION BY user_id)
    ),
    m2 AS (
      SELECT *,
             CASE WHEN mean_rmse * 10.0 > med * 12.0 THEN 0.0
                  WHEN med > 0 THEN EXP(-mean_rmse / med)
                  ELSE EXP(-1.0) END AS raw0,
             CASE WHEN any_da_ok = 1 AND mean_da < {_EH_DA_FLOOR}
                  THEN 1 ELSE 0 END AS pen
      FROM m1
    ),
    m2b AS (
      SELECT *,
             CASE WHEN pen = 1 AND raw0 > {_EH_DA_CAP}
                  THEN {_EH_DA_CAP} ELSE raw0 END AS raw
      FROM m2
    ),
    m3 AS (
      SELECT *,
             CASE WHEN SUM(raw) OVER wu <= 0 THEN 1.0 / 3.0
                  ELSE raw / SUM(raw) OVER wu END AS adaptive
      FROM m2b WINDOW wu AS (PARTITION BY user_id)
    ),
    m4 AS (
      SELECT *,
             MAX(cap_flag) OVER wu AS capped_any,
             CASE WHEN cap_flag = 1 THEN {_EH_DA_CAP}
                  ELSE adaptive END AS a2
      FROM (SELECT *,
                   CASE WHEN pen = 1 AND adaptive > {_EH_DA_CAP}
                        THEN 1 ELSE 0 END AS cap_flag
            FROM m3) c
      WINDOW wu AS (PARTITION BY user_id)
    ),
    m5 AS (
      SELECT *,
             CASE WHEN capped_any = 0 THEN adaptive
                  WHEN pen = 1 THEN a2
                  WHEN np_sum > 0
                  THEN a2 / np_sum * GREATEST(0.0, 1.0 - pen_sum)
                  ELSE GREATEST(0.0, 1.0 - pen_sum) / np_cnt END AS a3
      FROM (SELECT *,
                   SUM(CASE WHEN pen = 1 THEN a2 ELSE 0.0 END) OVER wu
                     AS pen_sum,
                   SUM(CASE WHEN pen = 0 THEN a2 ELSE 0.0 END) OVER wu
                     AS np_sum,
                   SUM(CASE WHEN pen = 0 THEN 1 ELSE 0 END) OVER wu
                     AS np_cnt
            FROM m4 WINDOW wu AS (PARTITION BY user_id)) p
    ),
    m6 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY a3 DESC, model_ord) AS rnk
      FROM m5
    ),
    m7 AS (
      SELECT *,
             MAX(CASE WHEN rnk = 1 THEN a3 END) OVER wu AS top_w,
             SUM(CASE WHEN rnk > 1 THEN a3 ELSE 0.0 END) OVER wu AS oth
      FROM m6 WINDOW wu AS (PARTITION BY user_id)
    ),
    m8 AS (
      SELECT *,
             CASE WHEN top_w <= {_EH_TOP_CLAMP} THEN a3
                  WHEN rnk = 1 THEN {_EH_TOP_CLAMP}
                  WHEN oth > 0
                  THEN a3 + (top_w - {_EH_TOP_CLAMP}) * a3 / oth
                  ELSE a3 + (top_w - {_EH_TOP_CLAMP}) / 2.0 END AS final
      FROM m7
    )
    SELECT user_id, model,
           ROUND(final, 6) AS weight_primary,
           final > 0.001 AS in_primary,
           CASE WHEN rnk = 1 THEN 0.7 WHEN rnk = 2 THEN 0.3
                ELSE 0.0 END AS hedge_weight,
           CASE WHEN rnk = 1 THEN 1.0 ELSE 0.0 END AS winner_weight,
           any_da_ok = 0 AS degraded_da_fallback,
           top_w > {_EH_TOP_CLAMP} AS diversity_clamped,
           ROUND(mean_rmse, 6) AS mean_rmse,
           ROUND(mean_da, 6) AS mean_da
    FROM m8
    """,
)
def ensemble_adaptive_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key adaptive candidate weights from the most recent audit
    windows — reference `scripts/ensemble_health_audit.py:383-580`
    (`compute_adaptive_weights`): exp(-mean_rmse / median) decay with the
    hard zero past 1.2x the median, the DA-floor penalty (pre- and
    post-normalization caps at da_cap_weight, redistribution of the
    remaining budget to non-penalized models only), the all-DA-zero
    RMSE-only fallback, and the 0.90 diversity guard. Emits the three
    reference candidates per key in wide form: the primary adaptive
    weight (with its > 0.001 inclusion flag — on this algebra weights are
    either exactly 0 or >= the cap, so the reference's drop-tiny rule
    never breaks the sum-to-1 contract), the 0.70/0.30 top-2 hedge and
    the pure-winner weight, ranked by post-clamp weight with the
    reference's stable model-order tie-break. The fleet is 3 rows per
    key; every step is a window expression over that bounded group, so
    the query is one shuffle at any scale."""
    wts, win = _eh_frames(spark, sf_dir)
    wrec = Window.partitionBy("user_id").orderBy(F.col("audit_id").desc())
    rec = win.select(
        "user_id", "audit_id", F.row_number().over(wrec).alias("rec_rank")
    ).filter(F.col("rec_rank") <= _EH_RECENT)
    recm = (
        wts.join(rec.select("user_id", "audit_id"), ["user_id", "audit_id"])
        .groupBy("user_id", "model", "model_ord")
        .agg(
            F.avg("rmse").alias("mean_rmse"), F.avg("da").alias("mean_da")
        )
    )
    m8 = eh_adaptive_weight_frame(recm)
    return m8.select(
        "user_id",
        "model",
        r6(F.col("final")).alias("weight_primary"),
        (F.col("final") > 0.001).alias("in_primary"),
        F.when(F.col("rnk") == 1, 0.7)
        .when(F.col("rnk") == 2, 0.3)
        .otherwise(0.0)
        .alias("hedge_weight"),
        F.when(F.col("rnk") == 1, 1.0).otherwise(0.0).alias("winner_weight"),
        (F.col("any_da_ok") == 0).alias("degraded_da_fallback"),
        (F.col("top_w") > _EH_TOP_CLAMP).alias("diversity_clamped"),
        r6(F.col("mean_rmse")).alias("mean_rmse"),
        r6(F.col("mean_da")).alias("mean_da"),
    )


@query("ensemble_lift_significance")
def ensemble_lift_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet bootstrap CI for ensemble lift — reference
    `scripts/ensemble_health_audit.py:600-680` (`compute_lift_significance`):
    per-window lift delta = best-single RMSE - ensemble RMSE (positive =
    the ensemble wins the window), mean lift with a bootstrap confidence
    interval and the win fraction, plus the insufficient-data guard
    (n < 5 windows). Resampling uses the repo's deterministic
    universal-hash draws (one md5 per window, affine integer mixes per
    replicate — a ~half subsample rather than the reference's
    with-replacement numpy draw, the documented deviation shared by A12 /
    R12). Single-row output; the replicate fan-out dies in map-side
    partial aggregation."""
    from .queries_finance import _BOOT_P, _BOOT_PARAMS

    _, win = _eh_frames(spark, sf_dir)
    x = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("user_id").cast("string"),
                        F.col("audit_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _BOOT_P
    )
    d = win.select(
        "user_id",
        "audit_id",
        (F.col("best_rmse") - F.col("ens_rmse")).alias("delta"),
        x.alias("x"),
    )
    pt = d.agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.avg("delta").alias("mean_lift"),
        F.avg(F.when(F.col("delta") > 0, 1.0).otherwise(0.0)).alias(
            "lift_win_fraction"
        ),
    )
    params = literal_grid(
        spark,
        [(r, a, b) for r, (a, b) in enumerate(_BOOT_PARAMS)],
        "rep int, a long, b long",
    )
    reps = (
        d.crossJoin(F.broadcast(params))
        .filter((F.col("a") * F.col("x") + F.col("b")) % _BOOT_P < _BOOT_P // 2)
        .groupBy("rep")
        .agg(F.avg("delta").alias("rep_mean"))
    )
    ci = reps.agg(
        F.round(F.percentile("rep_mean", F.lit(0.025)), 6).alias("ci_low"),
        F.round(F.percentile("rep_mean", F.lit(0.975)), 6).alias("ci_high"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_windows",
        r6(F.col("mean_lift")).alias("mean_lift"),
        "ci_low",
        "ci_high",
        r6(F.col("lift_win_fraction")).alias("lift_win_fraction"),
        (F.col("n_windows") < 5).alias("insufficient_data"),
        (F.col("ci_low") > 0.0).alias("lift_significant"),
    )


from .queries_finance import _BOOT_VALUES as _EH_BOOT_VALUES  # noqa: E402

ORACLE["ensemble_lift_significance"] = f"""
    {_EH_SQL},
    d AS (
      SELECT user_id, audit_id, best_rmse - ens_rmse AS delta,
             ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR) || '|'
                             || CAST(audit_id AS VARCHAR)), 1, 8))::BIGINT
               % 2147483647 AS x
      FROM win
    ),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
             AVG(delta) AS mean_lift,
             AVG(CASE WHEN delta > 0 THEN 1.0 ELSE 0.0 END)
               AS lift_win_fraction
      FROM d
    ),
    params(rep, a, b) AS (VALUES {_EH_BOOT_VALUES}),
    reps AS (
      SELECT p.rep, AVG(d.delta) AS rep_mean
      FROM d CROSS JOIN params p
      WHERE (p.a * d.x + p.b) % 2147483647 < 1073741823
      GROUP BY p.rep
    ),
    ci AS (
      SELECT ROUND(QUANTILE_CONT(rep_mean, 0.025), 6) AS ci_low,
             ROUND(QUANTILE_CONT(rep_mean, 0.975), 6) AS ci_high
      FROM reps
    )
    SELECT pt.n_windows,
           ROUND(pt.mean_lift, 6) AS mean_lift,
           ci.ci_low, ci.ci_high,
           ROUND(pt.lift_win_fraction, 6) AS lift_win_fraction,
           pt.n_windows < 5 AS insufficient_data,
           ci.ci_low > 0.0 AS lift_significant
    FROM pt CROSS JOIN ci
"""


@query(
    "ensemble_proxy_shapley",
    oracle=f"""
    {_EH_SQL},
    wide AS (
      SELECT t.user_id, t.audit_id,
             MAX(CASE WHEN t.model = 'naive' THEN t.rmse END) AS ra,
             MAX(CASE WHEN t.model = 'ma3' THEN t.rmse END) AS rb,
             MAX(CASE WHEN t.model = 'ma10' THEN t.rmse END) AS rc,
             MAX(CASE WHEN t.model = 'naive' THEN t.weight END) AS wa,
             MAX(CASE WHEN t.model = 'ma3' THEN t.weight END) AS wb,
             MAX(CASE WHEN t.model = 'ma10' THEN t.weight END) AS wc
      FROM wts t GROUP BY t.user_id, t.audit_id
    ),
    ls AS (
      SELECT user_id, audit_id, ra, rb, rc,
             (ra + rb + rc) / 3.0 AS l0,
             (wa * ra + wb * rb)
               / (CASE WHEN wa + wb <= 0 THEN 1.0 ELSE wa + wb END) AS lab,
             (wa * ra + wc * rc)
               / (CASE WHEN wa + wc <= 0 THEN 1.0 ELSE wa + wc END) AS lac,
             (wb * rb + wc * rc)
               / (CASE WHEN wb + wc <= 0 THEN 1.0 ELSE wb + wc END) AS lbc,
             (wa * ra + wb * rb + wc * rc)
               / (CASE WHEN wa + wb + wc <= 0 THEN 1.0
                       ELSE wa + wb + wc END) AS labc
      FROM wide
    ),
    phi AS (
      SELECT user_id, audit_id,
             (ra - l0) / 3.0 + (lab - rb) / 6.0 + (lac - rc) / 6.0
               + (labc - lbc) / 3.0 AS phi_a,
             (rb - l0) / 3.0 + (lab - ra) / 6.0 + (lbc - rc) / 6.0
               + (labc - lac) / 3.0 AS phi_b,
             (rc - l0) / 3.0 + (lac - ra) / 6.0 + (lbc - rb) / 6.0
               + (labc - lab) / 3.0 AS phi_c
      FROM ls
    ),
    el AS (SELECT AVG(ens_rmse) AS ens_loss FROM win),
    m AS (
      SELECT u.model, AVG(u.phi) AS sv, CAST(COUNT(*) AS BIGINT) AS n_windows
      FROM (
        SELECT user_id, audit_id, 'naive' AS model, phi_a AS phi FROM phi
        UNION ALL
        SELECT user_id, audit_id, 'ma3', phi_b FROM phi
        UNION ALL
        SELECT user_id, audit_id, 'ma10', phi_c FROM phi
      ) u
      GROUP BY u.model
    )
    SELECT m.model, ROUND(m.sv, 6) AS mean_shapley, m.n_windows,
           CASE WHEN ABS(m.sv) > 0.05 * el.ens_loss
                THEN CASE WHEN m.sv > 0 THEN 'dominant driver'
                          ELSE 'dominant reducer' END
                ELSE 'neutral' END AS interpretation
    FROM m CROSS JOIN el
    """,
)
def ensemble_proxy_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proxy Shapley attribution over the audit windows — reference
    `scripts/ensemble_health_audit.py:336-380` (`compute_shapley_attribution`:
    RMSE-as-constant-forecast proxy against a zero actual, MAE loss, the
    window's stored ensemble weights) driving
    `forcester_ts/shapley_attribution.py:37-170` (exact power-set Shapley
    with subset-renormalized weights; the empty coalition is the
    unweighted grand mean of all components). With constant forecast
    arrays every subset loss collapses to the renormalized weighted mean
    of the member RMSEs, so the 2^3 enumeration is closed-form column
    algebra per window — no UDF, no explode. Mean per-window value per
    model, with the report's interpretation rule (`:745-750`: |value|
    vs 5% of the mean ensemble RMSE -> dominant driver / reducer /
    neutral). Cited caveat as in the reference: a directional indicator,
    not causal attribution."""
    wts, win = _eh_frames(spark, sf_dir)

    def piv(col: str, model: str):
        return F.max(F.when(F.col("model") == model, F.col(col)))

    wide = wts.groupBy("user_id", "audit_id").agg(
        piv("rmse", "naive").alias("ra"),
        piv("rmse", "ma3").alias("rb"),
        piv("rmse", "ma10").alias("rc"),
        piv("weight", "naive").alias("wa"),
        piv("weight", "ma3").alias("wb"),
        piv("weight", "ma10").alias("wc"),
    )

    def norm(num, den):
        return num / F.when(den <= 0, 1.0).otherwise(den)

    ra, rb, rc = F.col("ra"), F.col("rb"), F.col("rc")
    wa, wb, wc = F.col("wa"), F.col("wb"), F.col("wc")
    ls = wide.select(
        "user_id",
        "audit_id",
        "ra",
        "rb",
        "rc",
        ((ra + rb + rc) / 3.0).alias("l0"),
        norm(wa * ra + wb * rb, wa + wb).alias("lab"),
        norm(wa * ra + wc * rc, wa + wc).alias("lac"),
        norm(wb * rb + wc * rc, wb + wc).alias("lbc"),
        norm(wa * ra + wb * rb + wc * rc, wa + wb + wc).alias("labc"),
    )
    l0, lab, lac = F.col("l0"), F.col("lab"), F.col("lac")
    lbc, labc = F.col("lbc"), F.col("labc")
    phi = ls.select(
        "user_id",
        "audit_id",
        (
            (ra - l0) / 3.0 + (lab - rb) / 6.0 + (lac - rc) / 6.0
            + (labc - lbc) / 3.0
        ).alias("phi_a"),
        (
            (rb - l0) / 3.0 + (lab - ra) / 6.0 + (lbc - rc) / 6.0
            + (labc - lac) / 3.0
        ).alias("phi_b"),
        (
            (rc - l0) / 3.0 + (lac - ra) / 6.0 + (lbc - rb) / 6.0
            + (labc - lab) / 3.0
        ).alias("phi_c"),
    )
    long = phi.select(
        F.expr(
            "stack(3, 'naive', phi_a, 'ma3', phi_b, 'ma10', phi_c)"
            " AS (model, phi)"
        )
    )
    m = long.groupBy("model").agg(
        F.avg("phi").alias("sv"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
    )
    el = win.agg(F.avg("ens_rmse").alias("ens_loss"))
    return m.crossJoin(F.broadcast(el)).select(
        "model",
        r6(F.col("sv")).alias("mean_shapley"),
        "n_windows",
        F.when(
            F.abs(F.col("sv")) > 0.05 * F.col("ens_loss"),
            F.when(F.col("sv") > 0, "dominant driver").otherwise(
                "dominant reducer"
            ),
        )
        .otherwise("neutral")
        .alias("interpretation"),
    )


# ---------------------------------------------------------------------------
# Multi-ticker ensemble validation rollup (analyze_multi_ticker_results.py)
# ---------------------------------------------------------------------------

# Reference `scripts/analyze_multi_ticker_results.py`: parses the pipeline
# log's ENSEMBLE build_complete lines and rolls up (13-75) per-build GARCH
# weight classification (dominant >= 0.5 / zero / mixed), per-ticker weight
# and RMSE-ratio stats (only ratios > 1.0 are tracked, `:71-73`), the 1.100
# target gate with distance-to-goal against the 1.682 Phase-7.3 baseline
# (`:110-124`), and the overall validation status block (`:128-143`). The
# engine equivalent reads the same facts from its audit-window frame
# instead of a log: one "ensemble build" = one surviving audit window, the
# tracked weight = the naive model's window weight (the first-listed
# component, the reference's garch slot), the RMSE ratio = the window's
# ensemble-vs-best-single ratio.
_MTV_DOMINANT = 0.5
_MTV_TARGET = 1.100
_MTV_BASELINE = 1.682


@query(
    "multi_ticker_ensemble_rollup",
    oracle=f"""
    {_EH_SQL},
    b AS (
      SELECT t.user_id, t.audit_id, t.weight, w.rmse_ratio
      FROM wts t JOIN win w ON w.user_id = t.user_id
                           AND w.audit_id = t.audit_id
      WHERE t.model = 'naive'
    ),
    g AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_builds,
             AVG(weight) AS w_avg, MAX(weight) AS w_max,
             MIN(weight) AS w_min,
             CAST(COUNT(CASE WHEN rmse_ratio > 1.0 THEN 1 END) AS BIGINT)
               AS n_tracked,
             AVG(CASE WHEN rmse_ratio > 1.0 THEN rmse_ratio END) AS r_avg,
             MIN(CASE WHEN rmse_ratio > 1.0 THEN rmse_ratio END) AS r_best,
             MAX(CASE WHEN rmse_ratio > 1.0 THEN rmse_ratio END) AS r_worst
      FROM b GROUP BY user_id
    )
    SELECT user_id, n_builds,
           ROUND(w_avg, 6) AS weight_avg,
           ROUND(w_max, 6) AS weight_max,
           ROUND(w_min, 6) AS weight_min,
           n_tracked,
           ROUND(r_avg, 6) AS ratio_avg,
           ROUND(r_best, 6) AS ratio_best,
           ROUND(r_worst, 6) AS ratio_worst,
           CASE WHEN r_avg IS NULL THEN NULL
                ELSE r_avg < {_MTV_TARGET} END AS target_achieved,
           CASE WHEN r_avg IS NOT NULL AND r_avg >= {_MTV_TARGET}
                THEN ROUND(r_avg - {_MTV_TARGET}, 6) END AS target_gap,
           CASE WHEN r_avg IS NOT NULL AND r_avg >= {_MTV_TARGET}
                THEN ROUND(({_MTV_BASELINE} - r_avg)
                           / ({_MTV_BASELINE} - {_MTV_TARGET}) * 100.0, 6)
                END AS goal_reached_pct
    FROM g
    """,
)
def multi_ticker_ensemble_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker block of the multi-ticker validation summary — reference
    `scripts/analyze_multi_ticker_results.py:95-124`: builds count,
    tracked-weight avg/max/min, the worse-than-best RMSE-ratio stats
    (only ratios > 1.0 enter the census, `:71-73`), and the 1.100 target
    verdict with the distance-to-goal percentage against the 1.682
    baseline (`:117-124`). One groupBy over the shared audit-window
    frame."""
    wts, win = _eh_frames(spark, sf_dir)
    b = (
        wts.filter(F.col("model") == "naive")
        .join(win.select("user_id", "audit_id", "rmse_ratio"),
              ["user_id", "audit_id"])
    )
    tracked = F.when(F.col("rmse_ratio") > 1.0, F.col("rmse_ratio"))
    g = b.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_builds"),
        F.avg("weight").alias("w_avg"),
        F.max("weight").alias("w_max"),
        F.min("weight").alias("w_min"),
        F.count(tracked).cast("long").alias("n_tracked"),
        F.avg(tracked).alias("r_avg"),
        F.min(tracked).alias("r_best"),
        F.max(tracked).alias("r_worst"),
    )
    r_avg = F.col("r_avg")
    return g.select(
        "user_id",
        "n_builds",
        r6(F.col("w_avg")).alias("weight_avg"),
        r6(F.col("w_max")).alias("weight_max"),
        r6(F.col("w_min")).alias("weight_min"),
        "n_tracked",
        r6(r_avg).alias("ratio_avg"),
        r6(F.col("r_best")).alias("ratio_best"),
        r6(F.col("r_worst")).alias("ratio_worst"),
        F.when(r_avg.isNotNull(), r_avg < _MTV_TARGET).alias(
            "target_achieved"
        ),
        F.when(
            r_avg.isNotNull() & (r_avg >= _MTV_TARGET),
            r6(r_avg - _MTV_TARGET),
        ).alias("target_gap"),
        F.when(
            r_avg.isNotNull() & (r_avg >= _MTV_TARGET),
            r6(
                (_MTV_BASELINE - r_avg)
                / (_MTV_BASELINE - _MTV_TARGET)
                * 100.0
            ),
        ).alias("goal_reached_pct"),
    )


@query(
    "multi_ticker_validation_status",
    oracle=f"""
    {_EH_SQL},
    b AS (
      SELECT t.user_id, t.audit_id, t.weight, w.rmse_ratio
      FROM wts t JOIN win w ON w.user_id = t.user_id
                           AND w.audit_id = t.audit_id
      WHERE t.model = 'naive'
    ),
    stat AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_ensembles,
             CAST(SUM(CASE WHEN weight >= {_MTV_DOMINANT} THEN 1 ELSE 0 END)
                  AS BIGINT) AS dominant_n,
             CAST(SUM(CASE WHEN weight = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_n,
             CAST(SUM(CASE WHEN weight > 0.0 AND weight < {_MTV_DOMINANT}
                           THEN 1 ELSE 0 END) AS BIGINT) AS mixed_n,
             AVG(CASE WHEN rmse_ratio > 1.0 THEN rmse_ratio END)
               AS overall_avg
      FROM b
    )
    SELECT total_ensembles, dominant_n,
           ROUND(100.0 * CAST(dominant_n AS DOUBLE) / GREATEST(total_ensembles, 1), 6)
             AS dominant_pct,
           zero_n,
           ROUND(100.0 * CAST(zero_n AS DOUBLE) / GREATEST(total_ensembles, 1), 6)
             AS zero_pct,
           mixed_n,
           ROUND(100.0 * CAST(mixed_n AS DOUBLE) / GREATEST(total_ensembles, 1), 6)
             AS mixed_pct,
           dominant_n > 0 AS integration_success,
           ROUND(overall_avg, 6) AS overall_avg_ratio,
           ROUND(({_MTV_BASELINE} - overall_avg) / {_MTV_BASELINE} * 100.0,
                 6) AS improvement_pct
    FROM stat
    """,
)
def multi_ticker_validation_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overall validation-status block — reference
    `scripts/analyze_multi_ticker_results.py:56-65` (the per-build
    dominant / zero / mixed classification with percentage shares) and
    `:128-143` (integration success = any dominant build; overall RMSE
    improvement vs the 1.682 baseline). Single bounded aggregate."""
    wts, win = _eh_frames(spark, sf_dir)
    b = (
        wts.filter(F.col("model") == "naive")
        .join(win.select("user_id", "audit_id", "rmse_ratio"),
              ["user_id", "audit_id"])
    )
    w = F.col("weight")
    s = b.agg(
        F.count(F.lit(1)).cast("long").alias("total_ensembles"),
        F.sum((w >= _MTV_DOMINANT).cast("int"))
        .cast("long")
        .alias("dominant_n"),
        F.sum((w == 0.0).cast("int")).cast("long").alias("zero_n"),
        F.sum(((w > 0.0) & (w < _MTV_DOMINANT)).cast("int"))
        .cast("long")
        .alias("mixed_n"),
        F.avg(F.when(F.col("rmse_ratio") > 1.0, F.col("rmse_ratio"))).alias(
            "overall_avg"
        ),
    )
    tot = F.greatest(F.col("total_ensembles"), F.lit(1))
    return s.select(
        "total_ensembles",
        "dominant_n",
        r6(100.0 * F.col("dominant_n") / tot).alias("dominant_pct"),
        "zero_n",
        r6(100.0 * F.col("zero_n") / tot).alias("zero_pct"),
        "mixed_n",
        r6(100.0 * F.col("mixed_n") / tot).alias("mixed_pct"),
        (F.col("dominant_n") > 0).alias("integration_success"),
        r6(F.col("overall_avg")).alias("overall_avg_ratio"),
        r6(
            (_MTV_BASELINE - F.col("overall_avg")) / _MTV_BASELINE * 100.0
        ).alias("improvement_pct"),
    )


# ---------------------------------------------------------------------------
# Directional classifier label generation (generate_classifier_training_labels)
# ---------------------------------------------------------------------------

# Reference `scripts/generate_classifier_training_labels.py`: scan a price
# series at a fixed stride, emit a synthetic signal per bar with the
# price-derivable feature subset (`_compute_price_features`, `:104-205`) and
# the forward-price directional label (`generate_labels`, `:330-402`):
# y = 1 iff Close[t+horizon] > Close[t], action BUY/SELL from the label,
# deterministic ts_signal_id, non-positive closes skipped, features computed
# on the lookback window ending at the bar with
# effective_lookback = min(lookback, n - horizon - 1) and series shorter
# than min_lookback + horizon rejected. Constants rescaled to the engine's
# 49-88-row series (reference 252/60/10/30 → 30/15/5/10); forecast-derived
# features (ensemble_pred_return, snr, confidences) plus the heavyweight
# hurst/ADF diagnostics are emitted NULL per the reference's own contract —
# "written as NaN and handled by the SimpleImputer" (`:24-27`; hurst and ADF
# are served standalone by `hurst_exponent` / the F10 stat suite).
_DL_LOOKBACK = 30
_DL_MIN_LB = 15
_DL_STEP = 5
_DL_HORIZON = 10

_DL_SQL = f"""
    WITH s AS ({_S_SQL}),
    b AS (
      SELECT user_id, ts, rn - 1 AS bar, value,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             value / LAG(value) OVER w - 1.0 AS ret,
             value / LAG(value, 5) OVER w - 1.0 AS r5,
             LEAD(value, {_DL_HORIZON}) OVER w AS fwd
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY rn)
    ),
    f AS (
      SELECT *,
             LEAST({_DL_LOOKBACK}, n - {_DL_HORIZON} - 1) AS eff,
             STDDEV_SAMP(ret) OVER w29 AS vol_w,
             STDDEV_SAMP(ret) OVER w4 AS vol5,
             POWER(CORR(CAST(bar AS DOUBLE), value) OVER w30, 2) AS r2_raw,
             VAR_SAMP(value) OVER w30
               * (COUNT(value) OVER w30 - 1) AS ss_tot
      FROM b
      WINDOW
        w30 AS (PARTITION BY user_id ORDER BY bar
                ROWS BETWEEN {_DL_LOOKBACK} PRECEDING AND CURRENT ROW),
        w29 AS (PARTITION BY user_id ORDER BY bar
                ROWS BETWEEN {_DL_LOOKBACK - 1} PRECEDING AND CURRENT ROW),
        w4 AS (PARTITION BY user_id ORDER BY bar
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    ),
    lab AS (
      SELECT user_id, bar, ts, value, fwd, r5,
             CASE WHEN fwd > value THEN 1 ELSE 0 END AS y_directional,
             CASE WHEN vol_w > 0 THEN vol5 / vol_w END AS recent_vol_ratio,
             vol_w * SQRT(252.0) AS rv_ann,
             CASE WHEN ss_tot <= 1e-12 THEN 0.0 ELSE r2_raw END AS tstr
      FROM f
      WHERE eff >= {_DL_MIN_LB} AND bar >= eff
        AND bar < n - {_DL_HORIZON} AND (bar - eff) % {_DL_STEP} = 0
        AND value > 0 AND fwd > 0
    )
"""

_DL_REGIME = """
      CASE WHEN rv_ann > 0.40 THEN 'crisis'
           WHEN rv_ann > 0.20 AND tstr > 0.30 THEN 'high_vol_trending'
           WHEN tstr > 0.40 THEN 'moderate_trending'
           ELSE 'liquid_rangebound' END
"""


@query(
    "directional_training_labels",
    oracle=f"""
    {_DL_SQL}
    SELECT 'gen_' || CAST(user_id AS VARCHAR) || '_'
             || CAST(bar AS VARCHAR) AS ts_signal_id,
           user_id, CAST(bar AS INT) AS bar,
           EPOCH_MS(ts) AS entry_ms,
           CASE WHEN y_directional = 1 THEN 'BUY' ELSE 'SELL' END AS action,
           CAST(y_directional AS INT) AS y_directional,
           'price_parquet_scan' AS label_source,
           ROUND(r5, 6) AS recent_return_5d,
           ROUND(recent_vol_ratio, 6) AS recent_vol_ratio,
           ROUND(rv_ann, 6) AS realized_vol_annualized,
           ROUND(tstr, 6) AS trend_strength,
           CASE WHEN {_DL_REGIME} = 'liquid_rangebound' THEN 1.0 ELSE 0.0
             END AS regime_liquid_rangebound,
           CASE WHEN {_DL_REGIME} = 'moderate_trending' THEN 1.0 ELSE 0.0
             END AS regime_moderate_trending,
           CASE WHEN {_DL_REGIME} = 'high_vol_trending' THEN 1.0 ELSE 0.0
             END AS regime_high_vol_trending,
           CASE WHEN {_DL_REGIME} = 'crisis' THEN 1.0 ELSE 0.0
             END AS regime_crisis,
           CAST(NULL AS DOUBLE) AS ensemble_pred_return,
           CAST(NULL AS DOUBLE) AS ci_width_normalized,
           CAST(NULL AS DOUBLE) AS snr,
           CAST(NULL AS DOUBLE) AS model_agreement,
           CAST(NULL AS DOUBLE) AS hurst_exponent,
           CAST(NULL AS DOUBLE) AS adf_pvalue
    FROM lab
    """,
)
@session_frame_cache
def directional_training_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R138: forward-price directional labels generated straight from the
    price series at a fixed stride — reference
    `scripts/generate_classifier_training_labels.py:330-402` (the Phase-9
    bootstrap that bypasses the JSONL timestamp mismatch) with the
    price-derivable feature subset of `:104-205` and the regime one-hot
    ladder aligned with the RegimeDetector thresholds (`:180-196`).

    Plan: one shuffle on user_id feeds every window (lags, leads, the
    three frame aggregates); the stride/lookback gates are row-local
    predicates. No joins, no UDFs — linear at any scale."""
    s = _series(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("rn")
    wp = Window.partitionBy("user_id")
    w30 = w.rowsBetween(-_DL_LOOKBACK, 0)
    w29 = w.rowsBetween(-(_DL_LOOKBACK - 1), 0)
    w4 = w.rowsBetween(-4, 0)
    bar = (F.col("rn") - 1).alias("bar")
    b = s.select(
        "user_id",
        "ts",
        bar,
        "value",
        F.count(F.lit(1)).over(wp).alias("n"),
        (F.col("value") / F.lag("value").over(w) - 1.0).alias("ret"),
        (F.col("value") / F.lag("value", 5).over(w) - 1.0).alias("r5"),
        F.lead("value", _DL_HORIZON).over(w).alias("fwd"),
    )
    wb = Window.partitionBy("user_id").orderBy("bar")
    wb30 = wb.rowsBetween(-_DL_LOOKBACK, 0)
    wb29 = wb.rowsBetween(-(_DL_LOOKBACK - 1), 0)
    wb4 = wb.rowsBetween(-4, 0)
    f = b.select(
        "*",
        F.least(F.lit(_DL_LOOKBACK), F.col("n") - _DL_HORIZON - 1).alias(
            "eff"
        ),
        F.stddev_samp("ret").over(wb29).alias("vol_w"),
        F.stddev_samp("ret").over(wb4).alias("vol5"),
        F.pow(
            F.corr(F.col("bar").cast("double"), F.col("value")).over(wb30), 2
        ).alias("r2_raw"),
        (
            F.var_samp("value").over(wb30)
            * (F.count("value").over(wb30) - 1)
        ).alias("ss_tot"),
    )
    lab = f.filter(
        (F.col("eff") >= _DL_MIN_LB)
        & (F.col("bar") >= F.col("eff"))
        & (F.col("bar") < F.col("n") - _DL_HORIZON)
        & ((F.col("bar") - F.col("eff")) % _DL_STEP == 0)
        & (F.col("value") > 0)
        & (F.col("fwd") > 0)
    ).select(
        "user_id",
        "bar",
        "ts",
        "r5",
        F.when(F.col("fwd") > F.col("value"), 1).otherwise(0).alias(
            "y_directional"
        ),
        F.when(F.col("vol_w") > 0, F.col("vol5") / F.col("vol_w")).alias(
            "recent_vol_ratio"
        ),
        (F.col("vol_w") * F.sqrt(F.lit(252.0))).alias("rv_ann"),
        F.when(F.col("ss_tot") <= 1e-12, 0.0)
        .otherwise(F.col("r2_raw"))
        .alias("tstr"),
    )
    regime = (
        F.when(F.col("rv_ann") > 0.40, "crisis")
        .when(
            (F.col("rv_ann") > 0.20) & (F.col("tstr") > 0.30),
            "high_vol_trending",
        )
        .when(F.col("tstr") > 0.40, "moderate_trending")
        .otherwise("liquid_rangebound")
    )
    null_d = F.lit(None).cast("double")
    return lab.select(
        F.concat(
            F.lit("gen_"),
            F.col("user_id").cast("string"),
            F.lit("_"),
            F.col("bar").cast("string"),
        ).alias("ts_signal_id"),
        "user_id",
        F.col("bar").cast("int").alias("bar"),
        F.unix_millis(F.col("ts")).alias("entry_ms"),
        F.when(F.col("y_directional") == 1, "BUY")
        .otherwise("SELL")
        .alias("action"),
        F.col("y_directional").cast("int").alias("y_directional"),
        F.lit("price_parquet_scan").alias("label_source"),
        r6(F.col("r5")).alias("recent_return_5d"),
        r6(F.col("recent_vol_ratio")).alias("recent_vol_ratio"),
        r6(F.col("rv_ann")).alias("realized_vol_annualized"),
        r6(F.col("tstr")).alias("trend_strength"),
        (regime == "liquid_rangebound")
        .cast("double")
        .alias("regime_liquid_rangebound"),
        (regime == "moderate_trending")
        .cast("double")
        .alias("regime_moderate_trending"),
        (regime == "high_vol_trending")
        .cast("double")
        .alias("regime_high_vol_trending"),
        (regime == "crisis").cast("double").alias("regime_crisis"),
        null_d.alias("ensemble_pred_return"),
        null_d.alias("ci_width_normalized"),
        null_d.alias("snr"),
        null_d.alias("model_agreement"),
        null_d.alias("hurst_exponent"),
        null_d.alias("adf_pvalue"),
    )


@query(
    "directional_labels_summary",
    oracle=f"""
    {_DL_SQL},
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_labeled,
             CAST(SUM(y_directional) AS BIGINT) AS n_positive,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_tickers
      FROM lab
    )
    SELECT n_labeled, n_positive,
           n_labeled - n_positive AS n_negative,
           n_tickers,
           'price_parquet_scan' AS label_source,
           CASE WHEN n_labeled > 0
                THEN ROUND(CAST(n_positive AS DOUBLE) / n_labeled, 6)
                END AS win_rate,
           n_labeled < 60 OR n_positive < 10
             OR (n_labeled - n_positive) < 10 AS cold_start,
           CASE WHEN n_labeled < 60 OR n_positive < 10
                  OR (n_labeled - n_positive) < 10
                THEN 'n=' || CAST(n_labeled AS VARCHAR)
                     || ' < 60 or class imbalance'
                END AS cold_start_reason
    FROM g
    """,
)
def directional_labels_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R139: the training-dataset summary gate — reference
    `_write_summary` (`generate_classifier_training_labels.py:446-474`):
    label/class counts, win rate, and the cold-start verdict
    (n < 60 or either class below 10) with its reason string."""
    lab = directional_training_labels(spark, sf_dir)
    g = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_labeled"),
        F.sum("y_directional").cast("long").alias("n_positive"),
        F.countDistinct("user_id").cast("long").alias("n_tickers"),
    )
    n, pos = F.col("n_labeled"), F.col("n_positive")
    neg = n - pos
    cold = (n < 60) | (pos < 10) | (neg < 10)
    return g.select(
        "n_labeled",
        "n_positive",
        neg.alias("n_negative"),
        "n_tickers",
        F.lit("price_parquet_scan").alias("label_source"),
        F.when(n > 0, r6(pos.cast("double") / n)).alias("win_rate"),
        cold.alias("cold_start"),
        F.when(
            cold,
            F.concat(
                F.lit("n="),
                n.cast("string"),
                F.lit(" < 60 or class imbalance"),
            ),
        ).alias("cold_start_reason"),
    )
