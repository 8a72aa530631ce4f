"""Pin the textual (selectExpr-string) replay builders bit-identically to
the Column-API references they replaced (optimization round 13), and pin
the one-pass shape of `_arima_replay` and `_sarimax_replay`.

`_arima_replay` / `_sarimax_replay` / `_samossa_replay` used to compose
their unrolled forecast recursions as withColumn chains — thousands of
py4j round-trips per DAG build. The rewrite parses ONE composed SQL
string per output struct; CollapseProject had already inlined the old
aliases into exactly those duplicated subtrees, so the Catalyst tree
(and therefore every IEEE double operation) must be unchanged. This test
keeps the original Column-API builders as references and asserts exact
row equality (collected tuples, bitwise doubles) on the sf0.001 data.

`_arima_replay` and `_sarimax_replay` have since been rebuilt as one
pass partitioned by ``user_id`` (series and component rows unioned,
window layers and two guarded groupBys in place of the
checkpoint-fenced joins), and share one forecast tail. Their Column-API
references are still the fenced multi-join builders, so the
bit-identity test also pins that the one-pass shape keeps the joins'
semantics; `test_replay_one_pass` pins the shape itself for both: no job
at build time, no broadcast, at most two hash exchanges, no checkpoint
scan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from portofolio_maximizer_spark.forecast.models import (
    arima_hr_components,
    samossa_components,
    sarimax_hr_components,
)
from portofolio_maximizer_spark.plans.queries_models import (
    _arima_replay,
    _samossa_replay,
    _sarimax_replay,
)
from portofolio_maximizer_spark.plans.queries_stats import _series


# ---------------------------------------------------------------------------
# Column-API reference implementations (the pre-rewrite builders, verbatim)
# ---------------------------------------------------------------------------

def _arima_replay_colapi(s: DataFrame, comp: DataFrame) -> DataFrame:
    """Spark twin of the ARIMA staged-verification oracle: given the raw
    series and the component rows (winner params + long-AR residuals),
    derive the full ARIMA_SCHEMA output relationally — the SAME
    derivation the DuckDB oracle replays, so the least-squares fit runs
    ONCE (in the components kernel) instead of twice, and both engines
    re-compute every emitted value independently from the staged
    artifacts.

    Plan-size discipline (optimization round 12): the intermediate
    frames here (``par``, ``yd``, ``resid``) each feed SEVERAL
    downstream branches; every DataFrame re-reference embeds a full
    copy of its lineage into the logical plan, so the un-truncated
    replay plan grew multiplicatively (the SARIMAX twin measured 4,144
    plan lines / 242 Exchanges, ~12 s of analysis alone). Eager
    ``localCheckpoint`` at each fan-out point pins the (tiny:
    ≤ rows-per-key × keys) frame once and truncates the lineage —
    values unchanged, one copy of each upstream stage."""
    from pyspark.sql import Window as W

    par = (
        comp.filter(F.col("kind") == 0)
        .groupBy("user_id")
        .agg(
            *[
                F.max(F.when(F.col("idx") == i, F.col("val"))).alias(name)
                for i, name in enumerate(
                    ["p", "d", "q", "c", "phi1", "phi2", "th1", "th2", "t0"], 1
                )
            ]
        )
        .localCheckpoint(eager=False)  # one row per key; feeds 4 branches
    )
    wp = W.partitionBy("user_id").orderBy("i")
    obs = s.select(
        "user_id",
        F.col("value").alias("x"),
        (F.row_number().over(W.partitionBy("user_id").orderBy("rn")) - 1).alias(
            "i"
        ),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("nx"),
    )
    lastx = obs.filter(F.col("i") == F.col("nx") - 1).select(
        "user_id", F.col("x").alias("last_x")
    )
    yd = (
        obs.join(par.select("user_id", "d"), "user_id")
        .select(
            "user_id",
            F.when(
                F.col("d") == 1, F.col("x") - F.lag("x").over(wp)
            )
            .otherwise(F.col("x"))
            .alias("y"),
            F.when(F.col("d") == 1, F.col("i") - 1)
            .otherwise(F.col("i"))
            .alias("t"),
        )
        .filter((F.col("t") >= 0) & F.col("y").isNotNull())
        .localCheckpoint(eager=False)  # fans out to lag/seasonal branches
    )
    el = comp.filter(F.col("kind") == 1).select(
        "user_id", (F.col("idx") - 1).alias("t"), F.col("val").alias("e")
    )
    wt = W.partitionBy("user_id").orderBy("t")
    je = yd.join(el, ["user_id", "t"]).select(
        "user_id",
        "t",
        "y",
        "e",
        F.lag("y", 1).over(wt).alias("y1"),
        F.lag("y", 2).over(wt).alias("y2"),
        F.lag("e", 1).over(wt).alias("e1"),
        F.lag("e", 2).over(wt).alias("e2"),
    )
    resid = (
        je.join(par, "user_id")
        .filter(F.col("t") >= F.col("t0"))
        .withColumn(
            "r",
            F.col("y")
            - (
                F.col("c")
                + F.col("phi1") * F.col("y1")
                + F.col("phi2") * F.col("y2")
                + F.col("th1") * F.col("e1")
                + F.col("th2") * F.col("e2")
            ),
        )
        .select("user_id", "t", "y", "r")
        .localCheckpoint(eager=True)  # feeds sigma/AIC + state branches
    )
    k = F.col("p") + F.col("q") + 1
    sig = (
        resid.groupBy("user_id")
        .agg(
            F.sum(F.col("r") * F.col("r")).alias("rss"),
            F.count(F.lit(1)).alias("m"),
        )
        .join(par.select("user_id", "p", "q"), "user_id")
        .select(
            "user_id",
            F.sqrt(
                F.col("rss") / F.greatest(F.col("m") - k, F.lit(1))
            ).alias("sigma"),
            (
                F.col("m")
                * F.log(F.greatest(F.col("rss") / F.col("m"), F.lit(1e-300)))
                + 2 * k
            ).alias("aic"),
        )
    )
    tmax = yd.groupBy("user_id").agg(F.max("t").alias("tm"))
    st = (
        resid.join(tmax, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("t") == F.col("tm"), F.col("y"))).alias("s_h1"),
            F.max(F.when(F.col("t") == F.col("tm") - 1, F.col("y"))).alias(
                "s_h2"
            ),
            F.max(F.when(F.col("t") == F.col("tm"), F.col("r"))).alias("s_e1"),
            F.max(F.when(F.col("t") == F.col("tm") - 1, F.col("r"))).alias(
                "s_e2"
            ),
        )
    )
    base = st.join(par, "user_id").join(sig, "user_id").join(lastx, "user_id")
    # unrolled 5-step recursion: each step materializes its prediction as
    # a column, the state advances by name (linear expression tree)
    h1, h2, e1, e2 = "s_h1", "s_h2", "s_e1", "s_e2"
    for h in range(1, 6):
        base = base.withColumn(
            f"pred{h}",
            F.col("c")
            + F.col("phi1") * F.col(h1)
            + F.col("phi2") * F.col(h2)
            + F.col("th1") * F.col(e1)
            + F.col("th2") * F.col(e2),
        )
        if h < 5:
            base = base.withColumn(f"z{h}", F.lit(0.0))
            h2, h1 = h1, f"pred{h}"
            e2, e1 = e1, f"z{h}"
    # cumulative predictions (d = 1 integration)
    cum = F.lit(0.0)
    for h in range(1, 6):
        cum = cum + F.col(f"pred{h}")
        base = base.withColumn(f"cpred{h}", cum)
    # psi ladder (seasonal-free: only phi1/phi2/th1/th2 enter psi_1..4)
    base = (
        base.withColumn("psi0", F.lit(1.0))
        .withColumn("psi1", F.col("phi1") + F.col("th1"))
        .withColumn(
            "psi2", F.col("phi1") * F.col("psi1") + F.col("phi2") + F.col("th2")
        )
        .withColumn(
            "psi3",
            F.col("phi1") * F.col("psi2") + F.col("phi2") * F.col("psi1"),
        )
        .withColumn(
            "psi4",
            F.col("phi1") * F.col("psi3") + F.col("phi2") * F.col("psi2"),
        )
    )
    pis = []
    acc = None
    for j in range(5):
        acc = F.col(f"psi{j}") if acc is None else acc + F.col(f"psi{j}")
        base = base.withColumn(f"pi{j}", acc)
        acc = F.col(f"pi{j}")
    def vfac(h):
        d0 = sum((F.col(f"psi{j}") * F.col(f"psi{j}") for j in range(h)), F.lit(0.0))
        d1 = sum((F.col(f"pi{j}") * F.col(f"pi{j}") for j in range(h)), F.lit(0.0))
        return F.when(F.col("d") == 1, d1).otherwise(d0)

    rows = []
    for h in range(1, 6):
        yhat = F.when(
            F.col("d") == 1, F.col("last_x") + F.col(f"cpred{h}")
        ).otherwise(F.col(f"pred{h}"))
        band = 1.96 * F.sqrt(F.col("sigma") * F.col("sigma") * vfac(h))
        rows.append(
            F.struct(
                F.col("p").cast("int").alias("p"),
                F.col("d").cast("int").alias("d"),
                F.col("q").cast("int").alias("q"),
                F.round(F.col("aic"), 6).alias("aic"),
                F.lit(h).cast("int").alias("horizon_step"),
                F.round(yhat, 6).alias("yhat"),
                F.round(yhat - band, 6).alias("lo"),
                F.round(yhat + band, 6).alias("hi"),
                F.round(F.col("sigma"), 6).alias("sigma"),
            )
        )
    return base.select(
        "user_id", F.explode(F.array(*rows)).alias("v")
    ).select("user_id", "v.*")


def _sarimax_replay_colapi(s: DataFrame, comp: DataFrame) -> DataFrame:
    """Spark twin of the SARIMAX staged-verification oracle — the
    seasonal extension of `_arima_replay`. The modeling target z is y
    after the winner's seasonal differencing (z = y_t − y_{t−s} when
    D=1, else y); lag-s and cross-product (s+1, s+2) terms come from a
    keyed equi-join on z plus window lags (t is dense per key), and
    because every detected period exceeds horizon+2 the forecast's
    seasonal, cross-product AND integration terms always reference
    OBSERVED values — z for the model terms, y for the seasonal
    integration offset — pivoted wide per horizon step before the
    unrolled recursion."""
    from pyspark.sql import Window as W

    names = [
        "p", "d", "q", "sp", "sq", "s_per", "t0", "c",
        "phi1", "phi2", "phis", "th1", "th2", "ths", "sd",
    ]
    par = (
        comp.filter(F.col("kind") == 0)
        .groupBy("user_id")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("idx") == i, F.col("val"))), F.lit(0.0)
                ).alias(name)
                for i, name in enumerate(names, 1)
            ]
        )
        .localCheckpoint(eager=False)  # one row per key; feeds 6 branches
    )
    wp = W.partitionBy("user_id").orderBy("i")
    obs = s.select(
        "user_id",
        F.col("value").alias("x"),
        (F.row_number().over(W.partitionBy("user_id").orderBy("rn")) - 1).alias(
            "i"
        ),
        F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("nx"),
    )
    lastx = obs.filter(F.col("i") == F.col("nx") - 1).select(
        "user_id", F.col("x").alias("last_x")
    )
    yd = (
        obs.join(par.select("user_id", "d"), "user_id")
        .select(
            "user_id",
            F.when(F.col("d") == 1, F.col("x") - F.lag("x").over(wp))
            .otherwise(F.col("x"))
            .alias("y"),
            F.when(F.col("d") == 1, F.col("i") - 1)
            .otherwise(F.col("i"))
            .alias("t"),
        )
        .filter((F.col("t") >= 0) & F.col("y").isNotNull())
        .localCheckpoint(eager=False)  # fans out to lag/seasonal branches
    )
    # modeling target z: the winner's seasonal difference of y
    wt = W.partitionBy("user_id").orderBy("t")
    pz = par.select("user_id", "sd", F.col("s_per").cast("long").alias("sl"))
    yoff = yd.select(
        F.col("user_id").alias("u_o"),
        F.col("t").alias("t_o"),
        F.col("y").alias("y_off"),
    )
    zd = (
        yd.join(pz, "user_id")
        .join(
            yoff,
            (F.col("user_id") == F.col("u_o"))
            & (F.col("sd") == 1)
            & (F.col("t") - F.col("sl") == F.col("t_o")),
            "left",
        )
        .filter((F.col("sd") == 0) | (F.col("t") >= F.col("sl")))
        .select(
            "user_id",
            "t",
            F.when(F.col("sd") == 1, F.col("y") - F.col("y_off"))
            .otherwise(F.col("y"))
            .alias("z"),
        )
        .localCheckpoint(eager=False)  # feeds lag join, seasonal join, efit
    )
    el = comp.filter(F.col("kind") == 1).select(
        "user_id", (F.col("idx") - 1).alias("t"), F.col("val").alias("e")
    )
    je = zd.join(el, ["user_id", "t"]).select(
        "user_id",
        "t",
        "z",
        "e",
        F.lag("z", 1).over(wt).alias("z1"),
        F.lag("z", 2).over(wt).alias("z2"),
        F.lag("e", 1).over(wt).alias("e1"),
        F.lag("e", 2).over(wt).alias("e2"),
    )
    jp = je.join(par, "user_id").withColumn(
        "ts_key", F.col("t") - F.col("s_per").cast("long")
    )
    zs = zd.select(
        F.col("user_id").alias("u_ys"),
        F.col("t").alias("t_ys"),
        F.col("z").alias("z_s"),
    )
    es = el.select(
        F.col("user_id").alias("u_es"),
        F.col("t").alias("t_es"),
        F.col("e").alias("e_s"),
    )
    seasoned = (
        jp.join(
            zs,
            (F.col("user_id") == F.col("u_ys"))
            & (F.col("s_per") > 0)
            & (F.col("ts_key") == F.col("t_ys")),
            "left",
        )
        .join(
            es,
            (F.col("user_id") == F.col("u_es"))
            & (F.col("s_per") > 0)
            & (F.col("ts_key") == F.col("t_es")),
            "left",
        )
        .drop("u_ys", "t_ys", "u_es", "t_es")
    )
    # multiplicative cross-product lags s+1, s+2: with t dense per key,
    # z_{t-s-1} is just lag(z_{t-s}) — no extra joins
    ws = W.partitionBy("user_id").orderBy("t")
    seasoned = (
        seasoned.withColumn("z_s1", F.lag("z_s", 1).over(ws))
        .withColumn("z_s2", F.lag("z_s", 2).over(ws))
        .withColumn("e_s1", F.lag("e_s", 1).over(ws))
        .withColumn("e_s2", F.lag("e_s", 2).over(ws))
    )
    zf = lambda c: F.coalesce(F.col(c), F.lit(0.0))  # noqa: E731
    resid = (
        seasoned.filter(F.col("t") >= F.col("t0"))
        .withColumn(
            "r",
            F.col("z")
            - (
                F.col("c")
                + F.col("phi1") * F.col("z1")
                + F.col("phi2") * F.col("z2")
                + F.col("phis") * zf("z_s")
                - F.col("phis")
                * (F.col("phi1") * zf("z_s1") + F.col("phi2") * zf("z_s2"))
                + F.col("th1") * F.col("e1")
                + F.col("th2") * F.col("e2")
                + F.col("ths") * zf("e_s")
                + F.col("ths")
                * (F.col("th1") * zf("e_s1") + F.col("th2") * zf("e_s2"))
            ),
        )
        .select("user_id", "t", "r")
        .localCheckpoint(eager=True)  # feeds sigma/AIC + the errs vector
    )
    k = F.col("p") + F.col("q") + F.col("sp") + F.col("sq") + 1
    sig = (
        resid.groupBy("user_id")
        .agg(
            F.sum(F.col("r") * F.col("r")).alias("rss"),
            F.count(F.lit(1)).alias("m"),
        )
        .join(par.select("user_id", "p", "q", "sp", "sq"), "user_id")
        .select(
            "user_id",
            F.sqrt(F.col("rss") / F.greatest(F.col("m") - k, F.lit(1))).alias(
                "sigma"
            ),
            (
                F.col("m")
                * F.log(F.greatest(F.col("rss") / F.col("m"), F.lit(1e-300)))
                + 2 * k
            ).alias("aic"),
        )
    )
    tmax = yd.groupBy("user_id").agg(F.max("t").alias("tm"))
    # the kernel's errs vector: zeros before t0, step-2 residuals after —
    # on the z domain
    efit = zd.join(
        resid.select("user_id", "t", "r"), ["user_id", "t"], "left"
    ).select("user_id", "t", "z", F.coalesce("r", F.lit(0.0)).alias("ef"))
    st = (
        efit.join(tmax, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("t") == F.col("tm"), F.col("z"))).alias("s_h1"),
            F.max(F.when(F.col("t") == F.col("tm") - 1, F.col("z"))).alias(
                "s_h2"
            ),
            F.max(F.when(F.col("t") == F.col("tm"), F.col("ef"))).alias(
                "s_e1"
            ),
            F.max(F.when(F.col("t") == F.col("tm") - 1, F.col("ef"))).alias(
                "s_e2"
            ),
        )
    )
    # pivot index j maps to t = tm + (j-1) - s: step h reads z at
    # j = h+1 (lag s), h (s+1), h-1 (s+2), plus the y-scale integration
    # offset at j = h+1 — all observed (s >= 7 > horizon)
    hsteps = s.sparkSession.range(0, 7).select(F.col("id").cast("int").alias("j"))
    pivsrc = yd.join(
        efit.select(
            F.col("user_id").alias("u_p"),
            F.col("t").alias("t_p"),
            F.col("z").alias("zv"),
            F.col("ef").alias("ev"),
        ),
        (F.col("user_id") == F.col("u_p")) & (F.col("t") == F.col("t_p")),
        "left",
    ).select("user_id", "t", "y", "zv", "ev")
    seas = (
        tmax.join(par.select("user_id", "s_per"), "user_id")
        .crossJoin(F.broadcast(hsteps))
        .withColumn(
            "tk", F.col("tm") + F.col("j") - 1 - F.col("s_per").cast("long")
        )
        .join(
            pivsrc.select(
                F.col("user_id").alias("u2"),
                F.col("t").alias("t2"),
                F.col("y").alias("yiv"),
                F.col("zv").alias("ysv"),
                F.col("ev").alias("esv"),
            ),
            (F.col("user_id") == F.col("u2"))
            & (F.col("s_per") > 0)
            & (F.col("tk") == F.col("t2")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("j") == j, F.col("ysv"))), F.lit(0.0)
                ).alias(f"syj{j}")
                for j in range(0, 7)
            ],
            *[
                F.coalesce(
                    F.max(F.when(F.col("j") == j, F.col("esv"))), F.lit(0.0)
                ).alias(f"sej{j}")
                for j in range(0, 7)
            ],
            *[
                F.coalesce(
                    F.max(F.when(F.col("j") == j, F.col("yiv"))), F.lit(0.0)
                ).alias(f"yij{j}")
                for j in range(0, 7)
            ],
        )
    )
    base = (
        st.join(par, "user_id")
        .join(sig, "user_id")
        .join(lastx, "user_id")
        .join(seas, "user_id")
    )
    h1, h2, e1, e2 = "s_h1", "s_h2", "s_e1", "s_e2"
    for h in range(1, 6):
        # the recursion runs on the z scale; predz feeds the state,
        # predy adds the observed seasonal-integration offset
        base = base.withColumn(
            f"predz{h}",
            F.col("c")
            + F.col("phi1") * F.col(h1)
            + F.col("phi2") * F.col(h2)
            + F.col("phis") * F.col(f"syj{h + 1}")
            - F.col("phis")
            * (
                F.col("phi1") * F.col(f"syj{h}")
                + F.col("phi2") * F.col(f"syj{h - 1}")
            )
            + F.col("th1") * F.col(e1)
            + F.col("th2") * F.col(e2)
            + F.col("ths") * F.col(f"sej{h + 1}")
            + F.col("ths")
            * (
                F.col("th1") * F.col(f"sej{h}")
                + F.col("th2") * F.col(f"sej{h - 1}")
            ),
        ).withColumn(
            f"pred{h}",
            F.col(f"predz{h}")
            + F.when(F.col("sd") == 1, F.col(f"yij{h + 1}")).otherwise(0.0),
        )
        if h < 5:
            base = base.withColumn(f"zz{h}", F.lit(0.0))
            h2, h1 = h1, f"predz{h}"
            e2, e1 = e1, f"zz{h}"
    cum = F.lit(0.0)
    for h in range(1, 6):
        cum = cum + F.col(f"pred{h}")
        base = base.withColumn(f"cpred{h}", cum)
    base = (
        base.withColumn("psi0", F.lit(1.0))
        .withColumn("psi1", F.col("phi1") + F.col("th1"))
        .withColumn(
            "psi2", F.col("phi1") * F.col("psi1") + F.col("phi2") + F.col("th2")
        )
        .withColumn(
            "psi3",
            F.col("phi1") * F.col("psi2") + F.col("phi2") * F.col("psi1"),
        )
        .withColumn(
            "psi4",
            F.col("phi1") * F.col("psi3") + F.col("phi2") * F.col("psi2"),
        )
    )
    acc = None
    for j in range(5):
        acc = F.col(f"psi{j}") if acc is None else acc + F.col(f"psi{j}")
        base = base.withColumn(f"pi{j}", acc)
        acc = F.col(f"pi{j}")

    def vfac(h):
        d0 = sum(
            (F.col(f"psi{j}") * F.col(f"psi{j}") for j in range(h)), F.lit(0.0)
        )
        d1 = sum(
            (F.col(f"pi{j}") * F.col(f"pi{j}") for j in range(h)), F.lit(0.0)
        )
        return F.when(F.col("d") == 1, d1).otherwise(d0)

    rows = []
    for h in range(1, 6):
        yhat = F.when(
            F.col("d") == 1, F.col("last_x") + F.col(f"cpred{h}")
        ).otherwise(F.col(f"pred{h}"))
        band = 1.96 * F.sqrt(F.col("sigma") * F.col("sigma") * vfac(h))
        rows.append(
            F.struct(
                F.col("p").cast("int").alias("p"),
                F.col("d").cast("int").alias("d"),
                F.col("q").cast("int").alias("q"),
                F.col("sp").cast("int").alias("sp"),
                F.col("sq").cast("int").alias("sq"),
                F.col("sd").cast("int").alias("sd"),
                F.col("s_per").cast("int").alias("s"),
                F.round(F.col("aic"), 6).alias("aic"),
                F.lit(h).cast("int").alias("horizon_step"),
                F.round(yhat, 6).alias("yhat"),
                F.round(yhat - band, 6).alias("lo"),
                F.round(yhat + band, 6).alias("hi"),
                F.round(F.col("sigma"), 6).alias("sigma"),
            )
        )
    return base.select(
        "user_id", F.explode(F.array(*rows)).alias("v")
    ).select("user_id", "v.*")


def _samossa_replay_colapi(s: DataFrame, comp: DataFrame) -> DataFrame:
    """Spark twin of the SAMoSSA staged-verification oracle: derive the
    forecast output from the staged SSA artifacts (recon series,
    R-forecast coefficients, AR coefficients) plus the raw series — the
    SVD and both least-squares solves run once, in the components
    kernel. The R-forecast window (11) exceeds the horizon (5): each
    step's observed part is a per-step join-aggregate over the staged
    reconstruction and the predicted part uses the fixed R10..R7
    coefficient slots, unrolled as columns."""
    from pyspark.sql import Window as W

    par = (
        comp.filter(F.col("kind") == 0)
        .groupBy("user_id")
        .agg(
            *[
                F.max(F.when(F.col("idx") == i, F.col("val"))).alias(name)
                for i, name in enumerate(
                    ["rank_used", "nu2", "L", "ar_p", "b0", "b1", "b2", "b3"], 1
                )
            ]
        )
    )
    recon = comp.filter(F.col("kind") == 1).select(
        "user_id", (F.col("idx") - 1).alias("pos"), F.col("val").alias("rec")
    )
    rc = comp.filter(F.col("kind") == 2).select(
        "user_id", (F.col("idx") - 1).alias("j"), F.col("val").alias("rj")
    )
    nn = recon.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    reclast = recon.join(nn, "user_id").filter(
        F.col("pos") == F.col("n") - 1
    ).select("user_id", F.col("rec").alias("rec_last"))
    hsteps = s.sparkSession.range(1, 6).select(
        F.col("id").cast("int").alias("h")
    )
    # observed part of each step's R-forecast window (position
    # n + h - 12 + j, kept when <= n - 1), pivoted wide per h
    obspart = (
        rc.join(nn, "user_id")
        .crossJoin(F.broadcast(hsteps))
        .join(
            recon.select(
                F.col("user_id").alias("u2"),
                F.col("pos").alias("p2"),
                F.col("rec").alias("r2"),
            ),
            (F.col("user_id") == F.col("u2"))
            & (F.col("p2") == F.col("n") + F.col("h") - 12 + F.col("j"))
            & (F.col("p2") <= F.col("n") - 1),
        )
        .groupBy("user_id")
        .agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.col("h") == h, F.col("rj") * F.col("r2"))
                    ),
                    F.lit(0.0),
                ).alias(f"obs{h}")
                for h in range(1, 6)
            ]
        )
    )
    rcoef = rc.groupBy("user_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("j") == j, F.col("rj"))), F.lit(0.0)
            ).alias(f"r{j}")
            for j in (10, 9, 8, 7)
        ]
    )
    # residual series and AR sigma from raw minus staged recon
    wkey = W.partitionBy("user_id").orderBy("rn")
    raw = s.select(
        "user_id",
        "value",
        (F.row_number().over(wkey) - 1).alias("pos"),
    )
    resid = raw.join(recon, ["user_id", "pos"]).select(
        "user_id",
        F.col("pos").alias("t"),
        (F.col("value") - F.col("rec")).alias("rv"),
    )
    wt = W.partitionBy("user_id").orderBy("t")
    rl = resid.select(
        "user_id",
        "t",
        "rv",
        F.lag("rv", 1).over(wt).alias("r1"),
        F.lag("rv", 2).over(wt).alias("r2l"),
        F.lag("rv", 3).over(wt).alias("r3l"),
    )
    arres = (
        rl.join(par, "user_id")
        .filter(F.col("t") >= F.col("ar_p"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.pow(
                    F.col("rv")
                    - (
                        F.col("b0")
                        + F.col("b1") * F.col("r1")
                        + F.col("b2") * F.coalesce(F.col("r2l"), F.lit(0.0))
                        + F.col("b3") * F.coalesce(F.col("r3l"), F.lit(0.0))
                    ),
                    2,
                )
            ).alias("rss"),
            F.count(F.lit(1)).alias("m"),
        )
    )
    sig = arres.join(par.select("user_id", "ar_p"), "user_id").select(
        "user_id",
        F.sqrt(
            F.col("rss")
            / F.greatest(F.col("m") - F.col("ar_p") - 1, F.lit(1))
        ).alias("sigma"),
    )
    rlast = (
        resid.join(nn, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("t") == F.col("n") - 1, F.col("rv"))).alias(
                "x1"
            ),
            F.max(F.when(F.col("t") == F.col("n") - 2, F.col("rv"))).alias(
                "x2"
            ),
            F.max(F.when(F.col("t") == F.col("n") - 3, F.col("rv"))).alias(
                "x3"
            ),
        )
    )
    base = (
        par.join(obspart, "user_id")
        .join(rcoef, "user_id")
        .join(reclast, "user_id")
        .join(sig, "user_id")
        .join(rlast, "user_id")
    )
    # trend recursion (R-forecast) unrolled: state = last four predictions
    t1 = t2 = t3 = t4 = None
    for h in range(1, 6):
        pred_part = F.lit(0.0)
        for coef, state in (("r10", t1), ("r9", t2), ("r8", t3), ("r7", t4)):
            if state is not None:
                pred_part = pred_part + F.col(coef) * F.col(state)
        base = base.withColumn(
            f"trend{h}",
            F.when(F.col("nu2") >= 0.999, F.col("rec_last")).otherwise(
                F.col(f"obs{h}") + pred_part
            ),
        )
        t4, t3, t2, t1 = t3, t2, t1, f"trend{h}"
    # residual AR recursion unrolled: state = last three values
    x1, x2, x3 = "x1", "x2", "x3"
    for h in range(1, 6):
        base = base.withColumn(
            f"rfc{h}",
            F.col("b0")
            + F.col("b1") * F.col(x1)
            + F.col("b2") * F.col(x2)
            + F.col("b3") * F.col(x3),
        )
        x3, x2, x1 = x2, x1, f"rfc{h}"
    rows = []
    for h in range(1, 6):
        rows.append(
            F.struct(
                F.col("rank_used").cast("int").alias("rank_used"),
                F.lit(h).cast("int").alias("horizon_step"),
                F.round(F.col(f"trend{h}") + F.col(f"rfc{h}"), 6).alias(
                    "yhat"
                ),
                F.round(F.col(f"trend{h}"), 6).alias("trend_part"),
                F.round(F.col(f"rfc{h}"), 6).alias("resid_part"),
                F.round(F.col("sigma"), 6).alias("sigma"),
            )
        )
    return base.select(
        "user_id", F.explode(F.array(*rows)).alias("v")
    ).select("user_id", "v.*")



@pytest.mark.parametrize(
    "comp_fn, new_fn, ref_fn",
    [
        (arima_hr_components, _arima_replay, _arima_replay_colapi),
        (sarimax_hr_components, _sarimax_replay, _sarimax_replay_colapi),
        (samossa_components, _samossa_replay, _samossa_replay_colapi),
    ],
    ids=["arima", "sarimax", "samossa"],
)
def test_textual_replay_bit_identical(spark, sf_dir, comp_fn, new_fn, ref_fn):
    s = _series(spark, sf_dir).select("user_id", "rn", "value")
    comp = comp_fn(s).localCheckpoint(eager=True)
    got = sorted(map(tuple, new_fn(s, comp).collect()))
    want = sorted(map(tuple, ref_fn(s, comp).collect()))
    assert got, "replay produced no rows"
    assert got == want


@pytest.mark.parametrize(
    "comp_fn, replay",
    [
        (arima_hr_components, _arima_replay),
        (sarimax_hr_components, _sarimax_replay),
    ],
    ids=["arima", "sarimax"],
)
def test_replay_one_pass(spark, sf_dir, tmp_path, comp_fn, replay):
    """Over components read back from parquet (as the staged path reads
    them), building the replay launches no job — no eager checkpoint
    fence — and its executed plan has no broadcast, at most two hash
    exchanges (the series window's and the one above the union) and no
    checkpoint (``ExistingRDD``) scan."""
    s = _series(spark, sf_dir).select("user_id", "rn", "value")
    path = str(tmp_path / "components")
    comp_fn(s).write.parquet(path)
    comp = spark.read.parquet(path)
    sc = spark.sparkContext
    group = f"{replay.__name__}_build"
    sc.setJobGroup(group, group)
    try:
        df = replay(s, comp)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup(group)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastExchange" not in final
    assert final.count("Exchange hashpartitioning") <= 2
    assert "ExistingRDD" not in final
