"""Query pack 5 — trade-integrity surface (views + PnL audit queries).

Re-creates the reference's SQL integrity layer — the three views
(`production_closed_trades`, `trade_close_linkages`, `round_trips`,
`etl/database_manager.py:1366-1425`) and the PnL-integrity checks
(`integrity/pnl_integrity_enforcer.py`) — on the driver's orders/lineitem
star schema: orders play trades, lineitems play legs, ``l_returnflag='R'``
plays the close/contamination flag.

Operators exercised: P7 production predicate (filter + NOT EXISTS),
J1 left join close→open, J2 anti join, J9 grouped-HAVING overlap,
U1 UNION ALL with anti-join fallback, A4 canonical PnL metrics with
worst-decile expected shortfall, plus CUBE grouping sets (the §2.4 note:
the reference has none; the Spark surface exposes them).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .queries import literal_grid, query, r6, session_frame_cache, shared_small_frame


# ---------------------------------------------------------------------------
# P7 + J2 — production predicate with NOT EXISTS exclusion
# ---------------------------------------------------------------------------


@query(
    "production_closed_orders",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS total_value
    FROM orders o
    WHERE o.o_orderstatus = 'F'
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def production_closed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 production-trades predicate: closed (status F) orders with no
    contaminated leg, via filter + left_anti join — reference view
    `production_closed_trades` (`etl/database_manager.py:1366-1380`:
    flag filters + NOT EXISTS synthetic-opener exclusion).

    The anti join's build side is the DISTINCT flagged-key set — far
    smaller than lineitem — and AQE picks broadcast when it fits; the
    orders scan is never shuffled twice."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    flagged = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    ).distinct()
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .join(flagged, "o_orderkey", "left_anti")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact decimal sum: 2-dp money at ~1e9 magnitude exceeds what
            # a double sum can hash-match at 6 decimals (SURVEY §7.3 item 6)
            r6(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"))
            .alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# J1 — round_trips: closes LEFT JOIN opening legs
# ---------------------------------------------------------------------------


@query(
    "round_trips",
    oracle="""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey,
             SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             MAX(l.l_shipdate) AS cship
      FROM lineitem l
      JOIN mx ON mx.l_orderkey = l.l_orderkey AND l.l_linenumber = mx.maxline
      GROUP BY l.l_orderkey
    ),
    opens AS (
      SELECT l_orderkey,
             SUM(l_quantity) AS oq,
             SUM(l_extendedprice * (1 - l_discount)) AS onet,
             MIN(l_shipdate) AS oship
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    )
    SELECT c.l_orderkey AS orderkey,
           ROUND(c.cq, 6) AS close_qty,
           ROUND(o.oq, 6) AS open_qty,
           ROUND(c.cnet - o.onet, 6) AS gross_pnl,
           DATEDIFF('day', o.oship, c.cship) AS holding_days
    FROM closes c
    LEFT JOIN opens o ON o.l_orderkey = c.l_orderkey
    WHERE c.l_orderkey < 3000
    """,
)
@session_frame_cache
def round_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 round_trips view: closing legs LEFT JOIN opening legs on the
    order key, null-preserving when every opener is disqualified —
    reference `etl/database_manager.py:1404-1425` (closes LEFT JOIN
    openers on entry_trade_id).

    Line numbers are NOT unique within an order in this data, so legs are
    AGGREGATED lots, never row-picks: close lot = all legs at the max line
    number (summed), open lot = all unflagged line-1 legs (summed) —
    deterministic under ties, which row_number/ANY_VALUE are not
    (SURVEY §7.3 item 2: determinism for the oracle)."""
    legs = _trade_legs(spark, sf_dir).filter(F.col("l_orderkey") < 3000)
    return legs.select(
        F.col("l_orderkey").alias("orderkey"),
        r6(F.col("cq")).alias("close_qty"),
        r6(F.col("oq")).alias("open_qty"),
        r6(F.col("cnet") - F.col("onet")).alias("gross_pnl"),
        F.datediff(F.to_date("cship"), F.to_date("oship"))
        .cast("bigint")
        .alias("holding_days"),
    )


# ---------------------------------------------------------------------------
# J9 — duplicate-close overlap detection (grouped HAVING)
# ---------------------------------------------------------------------------


@query(
    "duplicate_close_overlap",
    oracle="""
    WITH opener AS (
      SELECT l_orderkey, ROUND(SUM(l_quantity), 6) AS opener_qty
      FROM lineitem WHERE l_linenumber = 1
      GROUP BY l_orderkey
    )
    SELECT l.l_orderkey AS orderkey,
           COUNT(*) AS n_closes,
           ROUND(SUM(l.l_quantity), 6) AS closed_qty,
           MAX(o.opener_qty) AS opener_qty
    FROM lineitem l
    JOIN opener o ON o.l_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R' AND l.l_linenumber > 1
    GROUP BY l.l_orderkey
    HAVING COUNT(*) > 1 AND ROUND(SUM(l.l_quantity), 6) > MAX(o.opener_qty)
    """,
)
def duplicate_close_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 duplicate-close overlap: orders whose flagged closing legs
    outnumber AND out-size the opening lot — reference
    `integrity/pnl_integrity_enforcer.py:1109-1160` (closes GROUP BY
    opener HAVING COUNT>1 AND sum(allocated) > opener shares).

    The opening lot is SUMMED per order first (line numbers are not
    unique here), so the join is 1:N and the HAVING threshold compares
    values rounded identically on both sides."""
    li = load_table(spark, sf_dir, "lineitem")
    opener = (
        li.filter(F.col("l_linenumber") == 1)
        .groupBy("l_orderkey")
        .agg(r6(F.sum("l_quantity")).alias("opener_qty"))
    )
    return (
        li.filter((F.col("l_returnflag") == "R") & (F.col("l_linenumber") > 1))
        .join(opener, "l_orderkey")
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n_closes"),
            r6(F.sum("l_quantity")).alias("closed_qty"),
            F.max("opener_qty").alias("opener_qty"),
        )
        .filter((F.col("n_closes") > 1) & (F.col("closed_qty") > F.col("opener_qty")))
    )


# ---------------------------------------------------------------------------
# U1 — lot linkage: explicit links UNION ALL anti-join fallback
# ---------------------------------------------------------------------------


@query(
    "lot_linkage_union",
    oracle="""
    WITH closes AS (
      SELECT l_orderkey, l_linenumber, l_partkey
      FROM lineitem WHERE l_returnflag = 'R' AND l_linenumber > 1
        AND l_orderkey < 3000
    ),
    explicit AS (
      SELECT c.l_orderkey AS orderkey, c.l_linenumber AS close_line,
             MIN(p.l_linenumber) AS open_line, 'explicit' AS link_type
      FROM closes c
      JOIN lineitem p ON p.l_orderkey = c.l_orderkey
        AND p.l_partkey = c.l_partkey AND p.l_linenumber < c.l_linenumber
      GROUP BY c.l_orderkey, c.l_linenumber
    ),
    fallback AS (
      SELECT c.l_orderkey AS orderkey, c.l_linenumber AS close_line,
             1 AS open_line, 'fallback' AS link_type
      FROM closes c
      WHERE NOT EXISTS (
        SELECT 1 FROM explicit e
        WHERE e.orderkey = c.l_orderkey AND e.close_line = c.l_linenumber)
    )
    SELECT * FROM explicit UNION ALL SELECT * FROM fallback
    """,
)
def lot_linkage_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 trade_close_linkages view: explicit close→open links (same part
    earlier in the order) UNION ALL an anti-join fallback that links
    orphan closes to the first lot — reference `etl/database_manager.py:
    1383-1403` (explicit allocations + UNION ALL anti-join fallback)."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 3000)
    closes = li.filter(
        (F.col("l_returnflag") == "R") & (F.col("l_linenumber") > 1)
    ).select("l_orderkey", "l_linenumber", "l_partkey")
    c, p = closes.alias("c"), li.alias("p")
    explicit = (
        c.join(
            p,
            (F.col("p.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("p.l_partkey") == F.col("c.l_partkey"))
            & (F.col("p.l_linenumber") < F.col("c.l_linenumber")),
        )
        .groupBy(
            F.col("c.l_orderkey").alias("orderkey"),
            F.col("c.l_linenumber").alias("close_line"),
        )
        .agg(F.min("p.l_linenumber").alias("open_line"))
        .withColumn("link_type", F.lit("explicit"))
    )
    fallback = (
        closes.select(
            F.col("l_orderkey").alias("orderkey"),
            F.col("l_linenumber").alias("close_line"),
        )
        .join(explicit.select("orderkey", "close_line"), ["orderkey", "close_line"], "left_anti")
        .select(
            "orderkey",
            "close_line",
            F.lit(1).alias("open_line"),
            F.lit("fallback").alias("link_type"),
        )
    )
    return explicit.select(
        "orderkey", "close_line", "open_line", "link_type"
    ).unionByName(fallback)


# ---------------------------------------------------------------------------
# A4 — canonical PnL metrics with worst-decile expected shortfall
# ---------------------------------------------------------------------------


@query(
    "pnl_canonical_metrics",
    oracle="""
    WITH pnl AS (
      SELECT o.o_orderkey,
             ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                   * CASE WHEN l.l_returnflag = 'R' THEN -1 ELSE 1 END), 6) AS pnl
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY o.o_orderkey
    ),
    ranked AS (
      SELECT pnl,
             ROW_NUMBER() OVER (ORDER BY pnl, o_orderkey) AS rn_asc,
             COUNT(*) OVER () AS n
      FROM pnl
    )
    SELECT COUNT(*) AS n_trades,
           ROUND(AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END), 6) AS win_rate,
           ROUND(SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END)
                 / NULLIF(SUM(CASE WHEN pnl < 0 THEN -pnl ELSE 0 END), 0), 6)
             AS profit_factor,
           ROUND(AVG(CASE WHEN pnl > 0 THEN pnl END), 6) AS avg_win,
           ROUND(AVG(CASE WHEN pnl < 0 THEN pnl END), 6) AS avg_loss,
           ROUND(AVG(CASE WHEN pnl > 0 THEN pnl END)
                 / NULLIF(ABS(AVG(CASE WHEN pnl < 0 THEN pnl END)), 0), 6)
             AS payoff_ratio,
           ROUND(MAX(pnl), 6) AS largest_win,
           ROUND(MIN(pnl), 6) AS largest_loss,
           ROUND(AVG(CASE WHEN rn_asc <= n // 10 THEN pnl END), 6)
             AS worst_decile_es
    FROM ranked
    """,
)
def pnl_canonical_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 canonical PnL metric suite over closed trades: win rate, profit
    factor, avg/largest win/loss, payoff ratio, worst-decile expected
    shortfall — reference `integrity/pnl_integrity_enforcer.py:365-480`.

    The decile tail uses a deterministic rank over (pnl, key) — NOT
    ntile on raw floats — and pnl is rounded to 6 before ranking, so
    Spark and DuckDB rank the exact same numbers (SURVEY §7.3 item 6).
    The frame is one row per closed ORDER, which still scales with the
    data, so the rank is the two-pass `scalable_row_number`
    (range-partitioned local ranks + broadcast boundary offsets) and the
    census total is a driver-known literal — no single-partition
    window anywhere."""
    from ..operators.windows import scalable_row_number

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    signed = F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.when(
        F.col("l_returnflag") == "R", -1
    ).otherwise(1)
    pnl = (
        o.filter(F.col("o_orderstatus") == "F")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(r6(F.sum(signed)).alias("pnl"))
    )
    ranked_df, total = scalable_row_number(
        pnl, ["pnl", "o_orderkey"], out_col="rn_asc", with_total=True
    )
    ranked = ranked_df.select(
        "pnl", "rn_asc", F.lit(total).cast("long").alias("n")
    )
    p = F.col("pnl")
    pos = F.when(p > 0, p)
    neg = F.when(p < 0, p)
    return ranked.agg(
        F.count(F.lit(1)).alias("n_trades"),
        r6(F.avg(F.when(p > 0, 1.0).otherwise(0.0))).alias("win_rate"),
        r6(
            F.sum(F.when(p > 0, p).otherwise(0.0))
            / F.nullif(F.sum(F.when(p < 0, -p).otherwise(0.0)), F.lit(0.0))
        ).alias("profit_factor"),
        r6(F.avg(pos)).alias("avg_win"),
        r6(F.avg(neg)).alias("avg_loss"),
        r6(F.avg(pos) / F.nullif(F.abs(F.avg(neg)), F.lit(0.0))).alias(
            "payoff_ratio"
        ),
        r6(F.max(p)).alias("largest_win"),
        r6(F.min(p)).alias("largest_loss"),
        r6(
            F.avg(F.when(F.col("rn_asc") <= F.floor(F.col("n") / 10), p))
        ).alias("worst_decile_es"),
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets (§2.4 note — the Spark surface exposes them)
# ---------------------------------------------------------------------------


@query(
    "order_status_cube",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 6)
             AS total_value
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one pass —
    SURVEY §2.4 closing note (reference has single-dim groupings only;
    grouping sets come free on the Spark surface). Partial aggregation
    covers every grouping set in the same shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r6(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"))
            .alias("total_value"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# SQL surface: the reference's views as Spark SQL views + a spark.sql query
# ---------------------------------------------------------------------------


@query(
    "sql_view_weekly_revenue",
    oracle="""
    WITH production AS (
      SELECT o.o_orderkey, o.o_orderdate
      FROM orders o
      WHERE o.o_orderstatus = 'F'
        AND NOT EXISTS (SELECT 1 FROM lineitem l
                        WHERE l.l_orderkey = o.o_orderkey
                          AND l.l_returnflag = 'R')
    )
    SELECT CAST(DATE_TRUNC('week', p.o_orderdate) AS DATE) AS week,
           COUNT(DISTINCT p.o_orderkey) AS n_orders,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE), 6)
             AS net_revenue
    FROM production p JOIN lineitem l ON l.l_orderkey = p.o_orderkey
    GROUP BY DATE_TRUNC('week', p.o_orderdate)
    """,
)
def sql_view_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's view-over-view SQL surface on Spark SQL proper:
    registers the production-orders view (P7 shape,
    `etl/database_manager.py:1366-1380`) as a TEMP VIEW and queries it
    with ``spark.sql`` — same Catalyst plan as the DataFrame API, proving
    the engine's SQL entry point end-to-end. Weekly rollup in exact
    decimals (A14 + the decimal-sum convention)."""
    from ..sources.catalog import register_views

    register_views(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW production_orders AS
        SELECT o.o_orderkey, o.o_orderdate
        FROM orders o
        LEFT ANTI JOIN (SELECT DISTINCT l_orderkey FROM lineitem
                        WHERE l_returnflag = 'R') r
          ON o.o_orderkey = r.l_orderkey
        WHERE o.o_orderstatus = 'F'
        """
    )
    return spark.sql(
        """
        SELECT CAST(DATE_TRUNC('week', p.o_orderdate) AS DATE) AS week,
               COUNT(DISTINCT p.o_orderkey) AS n_orders,
               ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(8,2)))) AS DOUBLE), 6)
                 AS net_revenue
        FROM production_orders p JOIN lineitem l ON l.l_orderkey = p.o_orderkey
        GROUP BY DATE_TRUNC('week', p.o_orderdate)
        """
    )


# ---------------------------------------------------------------------------
# Full integrity audit — run_full_integrity_audit as ONE query
# ---------------------------------------------------------------------------

# Reference defaults (`integrity/pnl_integrity_enforcer.py:82-84`); the age
# cutoff is absolute here because the dataset is fixed (the reference uses
# now() - 3 days, meaningless against a static corpus).
_DRIFT_W = 30
_DRIFT_MIN = 15
_DRIFT_TH = 0.15
_QTY_TOL = 0.02
_STALE_CUTOFF = "1999-01-01"


@query(
    "integrity_audit_report",
    oracle=f"""
    WITH per AS (
      SELECT l_orderkey,
             COALESCE(SUM(CASE WHEN l_linenumber = 1 THEN l_quantity END), 0)
               AS open_qty,
             MAX(CASE WHEN l_linenumber = 1 THEN 1 ELSE 0 END) AS has_open,
             COALESCE(SUM(CASE WHEN l_linenumber = 1 AND l_returnflag = 'R'
                                THEN 1 ELSE 0 END), 0) AS open_flagged,
             COALESCE(SUM(CASE WHEN l_linenumber = 1 AND l_returnflag = 'R'
                                THEN l_quantity END), 0) AS open_flagged_qty,
             COALESCE(SUM(CASE WHEN l_linenumber > 1 AND l_returnflag = 'R'
                                THEN l_quantity END), 0) AS close_qty,
             COALESCE(SUM(CASE WHEN l_linenumber > 1 AND l_returnflag = 'R'
                                THEN 1 ELSE 0 END), 0) AS n_closes,
             COALESCE(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END), 0)
               AS null_flag_legs,
             COALESCE(SUM(CASE WHEN l_linestatus = 'O' AND l_returnflag <> 'R'
                                THEN 1 ELSE 0 END), 0) AS open_status_unflagged,
             COALESCE(SUM(CASE WHEN l_linenumber > 1 AND l_returnflag <> 'R'
                                THEN CAST(l_extendedprice AS DECIMAL(18,2))
                                     * (1 - CAST(l_discount AS DECIMAL(8,2)))
                               END), 0) AS untagged_late_net,
             COALESCE(SUM(CASE WHEN l_linenumber > 1 AND l_returnflag <> 'R'
                                THEN 1 ELSE 0 END), 0) AS n_untagged_late,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(8,2)))
                      * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE)
               AS charge_sum,
             ROUND(SUM(l_extendedprice * (1 - l_discount)
                   * CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END), 6) AS pnl
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT p.*, o.o_orderstatus, o.o_orderdate, o.o_totalprice
      FROM per p JOIN orders o ON o.o_orderkey = p.l_orderkey
    ),
    s AS (
      SELECT
        CAST(COALESCE(SUM(open_flagged), 0) AS BIGINT) AS c1_n,
        ROUND(COALESCE(SUM(open_flagged_qty), 0), 6) AS c1_m,
        CAST(COALESCE(SUM(null_flag_legs), 0) AS BIGINT) AS c2_n,
        CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' AND n_closes >= 1
                           AND open_qty - close_qty > {_QTY_TOL}
                           AND o_orderdate < TIMESTAMP '{_STALE_CUTOFF}'
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c3_n,
        ROUND(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' AND n_closes >= 1
                           AND open_qty - close_qty > {_QTY_TOL}
                           AND o_orderdate < TIMESTAMP '{_STALE_CUTOFF}'
                          THEN open_qty - close_qty END), 0), 6) AS c3_m,
        CAST(COALESCE(SUM(CASE WHEN open_flagged > 0 AND n_closes = 0
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c4_n,
        CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F'
                          THEN open_status_unflagged ELSE 0 END), 0) AS BIGINT)
          AS c5_n,
        CAST(COALESCE(SUM(CASE WHEN open_flagged > 0
                          THEN n_untagged_late ELSE 0 END), 0) AS BIGINT) AS c6_n,
        ROUND(CAST(COALESCE(SUM(CASE WHEN open_flagged > 0
                          THEN untagged_late_net END), 0) AS DOUBLE), 6) AS c6_m,
        CAST(COALESCE(SUM(CASE WHEN n_closes > 0 AND has_open = 0
                          THEN n_closes ELSE 0 END), 0) AS BIGINT) AS c7_n,
        CAST(COALESCE(SUM(CASE WHEN ABS(o_totalprice - charge_sum) > {_QTY_TOL}
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c8_n,
        ROUND(COALESCE(MAX(ABS(o_totalprice - charge_sum)), 0), 6) AS c8_m,
        CAST(COALESCE(SUM(CASE WHEN has_open = 1 AND n_closes > 1
                           AND close_qty > open_qty + {_QTY_TOL}
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS c9_n,
        ROUND(COALESCE(SUM(CASE WHEN has_open = 1 AND n_closes > 1
                           AND close_qty > open_qty + {_QTY_TOL}
                          THEN close_qty - open_qty END), 0), 6) AS c9_m
      FROM j
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COALESCE(SUM(CASE WHEN pnl > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS wins
      FROM j WHERE o_orderstatus = 'F'
    ),
    roll AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS roll_n,
             CAST(COALESCE(SUM(CASE WHEN pnl > 0 THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS roll_wins
      FROM (SELECT pnl FROM j WHERE o_orderstatus = 'F'
            ORDER BY o_orderdate DESC, l_orderkey DESC LIMIT {_DRIFT_W})
    ),
    dd AS (
      SELECT CASE WHEN t.n >= {_DRIFT_MIN + _DRIFT_W} AND r.roll_n > 0
                   AND t.n - r.roll_n > 0
                  THEN CAST(t.wins - r.roll_wins AS DOUBLE) / (t.n - r.roll_n)
                       - CAST(r.roll_wins AS DOUBLE) / r.roll_n
                  ELSE 0.0 END AS drift
      FROM tot t, roll r
    )
    SELECT 'OPENING_LEG_HAS_PNL' AS check_name, 'CRITICAL' AS severity,
           c1_n AS n_violations, CAST(c1_m AS DOUBLE) AS metric FROM s
    UNION ALL SELECT 'NULL_PRODUCTION_FLAGS', 'CRITICAL', c2_n,
           CAST(0.0 AS DOUBLE) FROM s
    UNION ALL SELECT 'ORPHANED_POSITION', 'HIGH', c3_n,
           CAST(c3_m AS DOUBLE) FROM s
    UNION ALL SELECT 'SHORT_ORPHANED_POSITION', 'HIGH', c4_n,
           CAST(0.0 AS DOUBLE) FROM s
    UNION ALL SELECT 'DIAGNOSTIC_NOT_FLAGGED', 'HIGH', c5_n,
           CAST(0.0 AS DOUBLE) FROM s
    UNION ALL SELECT 'CROSS_MODE_CONTAMINATION', 'HIGH', c6_n,
           CAST(c6_m AS DOUBLE) FROM s
    UNION ALL SELECT 'CLOSE_WITHOUT_ENTRY_LINK', 'MEDIUM', c7_n,
           CAST(0.0 AS DOUBLE) FROM s
    UNION ALL SELECT 'PNL_ARITHMETIC_MISMATCH', 'MEDIUM', c8_n,
           CAST(c8_m AS DOUBLE) FROM s
    UNION ALL SELECT 'DUPLICATE_CLOSE_FOR_ENTRY', 'HIGH', c9_n,
           CAST(c9_m AS DOUBLE) FROM s
    UNION ALL SELECT 'METRICS_DRIFT', 'HIGH',
           CAST(CASE WHEN ABS(drift) > {_DRIFT_TH} THEN {_DRIFT_W}
                     ELSE 0 END AS BIGINT),
           CAST(ROUND(drift, 6) AS DOUBLE) FROM dd
    """,
)
def integrity_audit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``run_full_integrity_audit`` as ONE query: all ten
    PnL-integrity checks (`integrity/pnl_integrity_enforcer.py:485-498`)
    evaluated in a single pass and emitted as a violations-report table
    (check_name, severity, n_violations, metric).

    Check mapping onto the star-schema trades model (opening leg =
    line 1, closing leg = later lines flagged 'R'):

    - OPENING_LEG_HAS_PNL (`:500-520`): a close-only marker on an opening
      leg (line-1 leg flagged 'R' inside an order that also has later legs
      — counted unconditionally, like the reference counts every
      is_close=0 row carrying realized_pnl).
    - NULL_PRODUCTION_FLAGS (`:522-552`): legs with a NULL flag column.
    - ORPHANED_POSITION (`:553-758`): partially-closed stale orders —
      closes exist but leave unconsumed opener quantity, order is final
      (not active inventory) and older than the cutoff.
    - SHORT_ORPHANED_POSITION (`:760+`): flagged line-1 legs ("SELL
      opens") never followed by a closing leg.
    - DIAGNOSTIC_NOT_FLAGGED (`:877-898`): mode marker inconsistent with
      flags — open-status ('O') legs inside final orders, unflagged.
    - CROSS_MODE_CONTAMINATION (`:900-956`): untagged late legs whose
      opener is flagged — phantom PnL measured as their net sum.
    - CLOSE_WITHOUT_ENTRY_LINK (`:1010-1059`): closing legs in orders
      with no line-1 opener at all.
    - PNL_ARITHMETIC_MISMATCH (`:1061-1108`): header total vs leg-derived
      charge total beyond the 2-cent tolerance (exact DECIMAL leg sums).
    - DUPLICATE_CLOSE_FOR_ENTRY (`:1109-1169`): over-closed openers — the
      J9 condition as a count.
    - METRICS_DRIFT (`:956-1008`): last-30 closed-trade win rate vs
      historical, 15 pp threshold, 45-trade warmup — the rolling set is
      TakeOrderedAndProject (ORDER BY date DESC LIMIT 30), never a global
      window, so the check costs two bounded aggregates at any scale.

    100 TB shape: ONE lineitem scan → per-order partial aggregation
    (map-side combine, shuffle carries one row per order) → join to
    orders → a single 1-row global aggregate per check family. The final
    10-row report is built from three 1-row frames; the crossJoins are
    the documented broadcast-tiny class."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    qty = F.col("l_quantity")
    line1 = F.col("l_linenumber") == 1
    late = F.col("l_linenumber") > 1
    flagged = F.col("l_returnflag") == "R"
    unflagged = F.col("l_returnflag") != "R"
    net_dec = F.col("l_extendedprice").cast("decimal(18,2)") * (
        1 - F.col("l_discount").cast("decimal(8,2)")
    )
    charge_dec = net_dec * (1 + F.col("l_tax").cast("decimal(8,2)"))
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    def csum(cond, val):
        return F.coalesce(F.sum(F.when(cond, val)), F.lit(0))

    per = li.groupBy("l_orderkey").agg(
        csum(line1, qty).alias("open_qty"),
        F.max(F.when(line1, 1).otherwise(0)).alias("has_open"),
        csum(line1 & flagged, F.lit(1)).alias("open_flagged"),
        csum(line1 & flagged, qty).alias("open_flagged_qty"),
        csum(late & flagged, qty).alias("close_qty"),
        csum(late & flagged, F.lit(1)).alias("n_closes"),
        csum(F.col("l_returnflag").isNull(), F.lit(1)).alias("null_flag_legs"),
        csum((F.col("l_linestatus") == "O") & unflagged, F.lit(1)).alias(
            "open_status_unflagged"
        ),
        csum(late & unflagged, net_dec).alias("untagged_late_net"),
        csum(late & unflagged, F.lit(1)).alias("n_untagged_late"),
        F.sum(charge_dec).cast("double").alias("charge_sum"),
        r6(
            F.sum(net * F.when(flagged, -1).otherwise(1))
        ).alias("pnl"),
    )
    j = per.join(
        o.select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"),
        per.l_orderkey == F.col("o_orderkey"),
    )
    is_final = F.col("o_orderstatus") == "F"
    stale = F.col("o_orderdate") < F.lit(_STALE_CUTOFF).cast("timestamp")
    orphan_cond = (
        is_final
        & (F.col("n_closes") >= 1)
        & (F.col("open_qty") - F.col("close_qty") > _QTY_TOL)
        & stale
    )
    # the reference JOINs the opener row, so an opener must exist
    # (`pnl_integrity_enforcer.py:1121-1129`); +0.02 is its share tolerance
    dup_cond = (
        (F.col("has_open") == 1)
        & (F.col("n_closes") > 1)
        & (F.col("close_qty") > F.col("open_qty") + _QTY_TOL)
    )
    arith_diff = F.abs(F.col("o_totalprice") - F.col("charge_sum"))
    s = j.agg(
        csum(F.lit(True), F.col("open_flagged")).cast("long").alias("c1_n"),
        r6(csum(F.lit(True), F.col("open_flagged_qty"))).alias("c1_m"),
        csum(F.lit(True), F.col("null_flag_legs")).cast("long").alias("c2_n"),
        csum(orphan_cond, F.lit(1)).cast("long").alias("c3_n"),
        r6(csum(orphan_cond, F.col("open_qty") - F.col("close_qty"))).alias("c3_m"),
        csum((F.col("open_flagged") > 0) & (F.col("n_closes") == 0), F.lit(1))
        .cast("long")
        .alias("c4_n"),
        csum(is_final, F.col("open_status_unflagged")).cast("long").alias("c5_n"),
        csum(F.col("open_flagged") > 0, F.col("n_untagged_late"))
        .cast("long")
        .alias("c6_n"),
        r6(
            csum(F.col("open_flagged") > 0, F.col("untagged_late_net")).cast(
                "double"
            )
        ).alias("c6_m"),
        csum((F.col("n_closes") > 0) & (F.col("has_open") == 0), F.col("n_closes"))
        .cast("long")
        .alias("c7_n"),
        csum(arith_diff > _QTY_TOL, F.lit(1)).cast("long").alias("c8_n"),
        r6(F.coalesce(F.max(arith_diff), F.lit(0.0))).alias("c8_m"),
        csum(dup_cond, F.lit(1)).cast("long").alias("c9_n"),
        r6(csum(dup_cond, F.col("close_qty") - F.col("open_qty"))).alias("c9_m"),
        # production totals folded into the SAME aggregation pass (opt
        # r12 batch 5, guide §2.4 "share one exchange"): count/sum over
        # the is_final subset == conditional sums over j, so the 9-check
        # agg and METRICS_DRIFT's historical arm cost ONE compute of j
        # instead of two (a checkpoint measured slower: materializing
        # the wide order-grain frame cost more than one recompute)
        csum(is_final, F.lit(1)).cast("long").alias("n"),
        csum(is_final & (F.col("pnl") > 0), F.lit(1)).cast("long").alias("wins"),
    )
    prod = j.filter(is_final).select("pnl", "o_orderdate", "l_orderkey")
    win = F.when(F.col("pnl") > 0, 1).otherwise(0)
    roll = (
        prod.orderBy(F.desc("o_orderdate"), F.desc("l_orderkey"))
        .limit(_DRIFT_W)
        .agg(
            F.count(F.lit(1)).cast("long").alias("roll_n"),
            F.coalesce(F.sum(win), F.lit(0)).cast("long").alias("roll_wins"),
        )
    )
    drift_expr = (
        F.when(
            (F.col("n") >= _DRIFT_MIN + _DRIFT_W)
            & (F.col("roll_n") > 0)
            & (F.col("n") - F.col("roll_n") > 0),
            (F.col("wins") - F.col("roll_wins")).cast("double")
            / (F.col("n") - F.col("roll_n"))
            - F.col("roll_wins").cast("double") / F.col("roll_n"),
        )
        .otherwise(0.0)
        .alias("drift")
    )

    def chk(name: str, sev: str, n_col, m_col):
        return F.struct(
            F.lit(name).alias("check_name"),
            F.lit(sev).alias("severity"),
            n_col.cast("long").alias("n_violations"),
            m_col.cast("double").alias("metric"),
        )

    zero = F.lit(0.0)
    report = (
        s.crossJoin(roll)
        .withColumn("drift", drift_expr)
        .select(
            F.explode(
                F.array(
                    chk("OPENING_LEG_HAS_PNL", "CRITICAL", F.col("c1_n"), F.col("c1_m")),
                    chk("NULL_PRODUCTION_FLAGS", "CRITICAL", F.col("c2_n"), zero),
                    chk("ORPHANED_POSITION", "HIGH", F.col("c3_n"), F.col("c3_m")),
                    chk("SHORT_ORPHANED_POSITION", "HIGH", F.col("c4_n"), zero),
                    chk("DIAGNOSTIC_NOT_FLAGGED", "HIGH", F.col("c5_n"), zero),
                    chk("CROSS_MODE_CONTAMINATION", "HIGH", F.col("c6_n"), F.col("c6_m")),
                    chk("CLOSE_WITHOUT_ENTRY_LINK", "MEDIUM", F.col("c7_n"), zero),
                    chk("PNL_ARITHMETIC_MISMATCH", "MEDIUM", F.col("c8_n"), F.col("c8_m")),
                    chk("DUPLICATE_CLOSE_FOR_ENTRY", "HIGH", F.col("c9_n"), F.col("c9_m")),
                    chk(
                        "METRICS_DRIFT",
                        "HIGH",
                        F.when(F.abs(F.col("drift")) > _DRIFT_TH, _DRIFT_W).otherwise(0),
                        r6(F.col("drift")),
                    ),
                )
            ).alias("v")
        )
        .select("v.*")
    )
    return report


# ---------------------------------------------------------------------------
# Synthetic-position mark-to-market (option intrinsics)
# ---------------------------------------------------------------------------


@query(
    "synthetic_mtm_valuation",
    oracle="""
    WITH spot AS (
      SELECT l_partkey,
             SUM(l_extendedprice) / SUM(l_quantity) AS spot
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_quantity > 0
      GROUP BY l_partkey
    ),
    legs AS (
      SELECT l.l_orderkey, l.l_partkey, l.l_quantity AS qty,
             l.l_extendedprice / l.l_quantity AS strike,
             CASE l.l_returnflag WHEN 'N' THEN 'spot'
                                 WHEN 'A' THEN 'call'
                                 ELSE 'put' END AS leg_type,
             CASE WHEN l.l_linenumber % 2 = 1 THEN 1 ELSE -1 END AS direction,
             1 + (l.l_linenumber % 3) AS multiplier
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'O' AND l.l_quantity > 0
    ),
    valued AS (
      SELECT lg.l_orderkey,
             CASE WHEN s.spot IS NULL THEN 0 ELSE 1 END AS priced,
             CASE
               WHEN s.spot IS NULL THEN 0.0
               WHEN lg.leg_type = 'spot' THEN
                 lg.direction * lg.qty * s.spot * lg.multiplier
               WHEN lg.leg_type = 'call' THEN
                 CASE WHEN lg.strike <= 0 OR s.spot <= 0 THEN 0.0
                      ELSE lg.direction * lg.qty
                           * GREATEST(s.spot - lg.strike, 0.0) * lg.multiplier
                 END
               ELSE
                 CASE WHEN lg.strike <= 0 OR s.spot <= 0 THEN 0.0
                      ELSE lg.direction * lg.qty
                           * GREATEST(lg.strike - s.spot, 0.0) * lg.multiplier
                 END
             END AS leg_value
      FROM legs lg LEFT JOIN spot s ON s.l_partkey = lg.l_partkey
    )
    SELECT l_orderkey AS orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_legs,
           CAST(SUM(priced) AS BIGINT) AS n_priced_legs,
           ROUND(SUM(leg_value), 6) AS mtm
    FROM valued GROUP BY l_orderkey
    """,
)
def synthetic_mtm_valuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-position mark-to-market — reference
    `etl/synthetic_pricer.py:104-164` (`compute_synthetic_mtm` +
    `_option_intrinsic`): MTM = sum_i direction_i * qty_i * unit_value_i
    where spot/cash legs price at spot x multiplier, call/put legs at
    plain intrinsic value (max(S-K,0) / max(K-S,0)) x multiplier,
    degenerate strikes or spots value to zero, unknown leg types value
    to zero ("avoid fantasy PnL"), and legs without a spot reference are
    skipped (`:140-142`) — reported via the n_priced_legs column.

    Mapping: open ('O') orders are the synthetic positions, their
    lineitems the legs; the spot book is the quantity-weighted recent
    unit price per part (legs shipped 2000+). Leg attributes
    (type/direction/multiplier/strike) derive deterministically from the
    leg row. Plan shape: the spot book is a per-part aggregate joined
    back (AQE broadcast when small, shuffle join at scale), then one
    per-order aggregation — two shuffles total at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    spot = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
            & (F.col("l_quantity") > 0)
        )
        .groupBy("l_partkey")
        .agg((F.sum("l_extendedprice") / F.sum("l_quantity")).alias("spot"))
    )
    legs = (
        li.join(
            o.filter(F.col("o_orderstatus") == "O").select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(F.col("l_quantity") > 0)
        .select(
            "l_orderkey",
            "l_partkey",
            F.col("l_quantity").alias("qty"),
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("strike"),
            F.when(F.col("l_returnflag") == "N", "spot")
            .when(F.col("l_returnflag") == "A", "call")
            .otherwise("put")
            .alias("leg_type"),
            F.when(F.col("l_linenumber") % 2 == 1, 1).otherwise(-1).alias(
                "direction"
            ),
            (1 + F.col("l_linenumber") % 3).alias("multiplier"),
        )
    )
    j = legs.join(spot, "l_partkey", "left")
    base = F.col("direction") * F.col("qty") * F.col("multiplier")
    degenerate = (F.col("strike") <= 0) | (F.col("spot") <= 0)
    leg_value = (
        F.when(F.col("spot").isNull(), 0.0)
        .when(F.col("leg_type") == "spot", base * F.col("spot"))
        .when(
            F.col("leg_type") == "call",
            F.when(degenerate, 0.0).otherwise(
                base * F.greatest(F.col("spot") - F.col("strike"), F.lit(0.0))
            ),
        )
        .otherwise(
            F.when(degenerate, 0.0).otherwise(
                base * F.greatest(F.col("strike") - F.col("spot"), F.lit(0.0))
            )
        )
    )
    priced = F.when(F.col("spot").isNull(), 0).otherwise(1)
    return (
        j.select(
            "l_orderkey", priced.alias("priced"), leg_value.alias("leg_value")
        )
        .groupBy(F.col("l_orderkey").alias("orderkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_legs"),
            F.sum("priced").cast("long").alias("n_priced_legs"),
            r6(F.sum("leg_value")).alias("mtm"),
        )
    )


# ---------------------------------------------------------------------------
# Performance dashboard snapshot — generate_live_metrics as ONE query
# ---------------------------------------------------------------------------

# Reference `monitoring/performance_dashboard.py:46-117`; the lookback is
# relative to the dataset's own max date (the reference anchors at now()).
_DB_LOOKBACK_DAYS = 180


@query(
    "dashboard_snapshot",
    oracle=f"""
    WITH mx AS (SELECT MAX(o_orderdate) AS mx FROM orders),
    pnl AS (
      SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS d,
             ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)
                   * CASE WHEN l.l_returnflag = 'R' THEN -1 ELSE 1 END), 6)
               AS pnl
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      CROSS JOIN mx
      WHERE o.o_orderstatus = 'F'
        AND o.o_orderdate >= mx.mx - INTERVAL {_DB_LOOKBACK_DAYS} DAY
      GROUP BY o.o_orderkey, CAST(o.o_orderdate AS DATE)
    ),
    perf AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_trades,
             AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
             SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END)
               / NULLIF(SUM(CASE WHEN pnl < 0 THEN -pnl ELSE 0 END), 0)
               AS profit_factor,
             SUM(pnl) AS total_profit,
             AVG(pnl) AS avg_profit
      FROM pnl
    ),
    daily AS (
      SELECT d, SUM(pnl) AS day_pnl FROM pnl GROUP BY d
    ),
    eq AS MATERIALIZED (
      SELECT d, 100000.0 + SUM(day_pnl) OVER (ORDER BY d) AS equity
      FROM daily
    ),
    eqx AS MATERIALIZED (
      SELECT d, equity,
             MAX(equity) OVER (ORDER BY d) AS runmax,
             LAG(equity) OVER (ORDER BY d) AS prev,
             ROW_NUMBER() OVER (ORDER BY d DESC) AS rdesc
      FROM eq
    ),
    rets AS (
      SELECT d, CASE WHEN prev <> 0 THEN (equity - prev) / prev END AS ret
      FROM eqx WHERE prev IS NOT NULL
    ),
    pm AS (
      SELECT STDDEV_SAMP(ret) * SQRT(252) AS vol,
             CASE WHEN STDDEV_SAMP(ret) > 0
                  THEN AVG(ret) / STDDEV_SAMP(ret) * SQRT(252) ELSE 0 END
               AS sharpe,
             CAST(COUNT(ret) AS BIGINT) AS nret
      FROM rets WHERE ret IS NOT NULL
    ),
    mdd AS (
      SELECT MAX(CASE WHEN runmax <> 0 THEN 1 - equity / runmax ELSE 0 END)
               AS max_drawdown,
             MAX(CASE WHEN rdesc = 1 AND runmax <> 0
                      THEN 1 - equity / runmax
                      WHEN rdesc = 1 THEN 0.0 END) AS current_drawdown
      FROM eqx
    ),
    v95raw AS (
      SELECT (lo.ret + ((p.nret - 1) * 0.05 - FLOOR((p.nret - 1) * 0.05))
              * (hi.ret - lo.ret)) AS var_95
      FROM pm p
      JOIN (SELECT ret, ROW_NUMBER() OVER (ORDER BY ret, d) AS rk
            FROM rets WHERE ret IS NOT NULL) lo
        ON lo.rk = CAST(FLOOR((p.nret - 1) * 0.05) AS BIGINT) + 1
      JOIN (SELECT ret, ROW_NUMBER() OVER (ORDER BY ret, d) AS rk
            FROM rets WHERE ret IS NOT NULL) hi
        ON hi.rk = CAST(CEIL((p.nret - 1) * 0.05) AS BIGINT) + 1
    ),
    v95 AS (
      -- aggregate wrapper: guarantees ONE row (null var) even when the
      -- equity curve has < 2 days, so the snapshot row never vanishes
      SELECT MAX(var_95) AS var_95 FROM v95raw
    ),
    sigseries AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    siglr AS (
      SELECT user_id, rn, n, value,
             LN(value / LAG(value) OVER (PARTITION BY user_id ORDER BY rn))
               AS lr
      FROM sigseries
    ),
    sigfeat AS (
      SELECT user_id, rn, n, value,
             AVG(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma5,
             STDDEV_SAMP(lr) OVER (PARTITION BY user_id ORDER BY rn
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vol20,
             LEAD(value) OVER (PARTITION BY user_id ORDER BY rn) AS nxt
      FROM siglr
    ),
    sigs AS (
      SELECT user_id,
             (ma5 - value) / value - 0.002 AS er,
             vol20,
             nxt / value - 1 AS actual_return,
             LEAST(ABS((ma5 - value) / value - 0.002) / vol20, 1.0) AS conf,
             CASE WHEN (ma5 - value) / value - 0.002 > 0.01
                   AND ((ma5 - value) / value - 0.002) / vol20 > 0.5
                  THEN 'BUY'
                  WHEN (ma5 - value) / value - 0.002 < -0.01
                   AND -((ma5 - value) / value - 0.002) / vol20 > 0.5
                  THEN 'SELL' ELSE 'HOLD' END AS action
      FROM sigfeat WHERE rn = n - 1 AND rn >= 21
    ),
    sacc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS signal_count,
             AVG(CASE WHEN (action = 'BUY' AND actual_return > 0)
                        OR (action = 'SELL' AND actual_return < 0)
                        OR (action = 'HOLD' AND ABS(actual_return) < 1e-6)
                      THEN 1.0 ELSE 0.0 END) AS signal_accuracy,
             AVG(conf) AS avg_confidence
      FROM sigs
    ),
    dq AS (
      SELECT AVG(CASE WHEN value IS NOT NULL AND value > 0
                      THEN 1.0 ELSE 0.0 END) AS data_quality_score,
             AVG(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END)
               AS avg_missing_pct
      FROM events
    ),
    lat AS (
      SELECT AVG(CASE WHEN event_type = 'view' THEN value END) AS avg_ts_ms,
             AVG(CASE WHEN event_type = 'click' THEN value END) AS avg_llm_ms
      FROM events
    )
    SELECT perf.total_trades,
           ROUND(perf.win_rate, 6) AS win_rate,
           ROUND(perf.profit_factor, 6) AS profit_factor,
           ROUND(perf.total_profit, 6) AS total_profit,
           ROUND(perf.avg_profit, 6) AS avg_profit_per_trade,
           sacc.signal_count,
           ROUND(sacc.signal_accuracy, 6) AS signal_accuracy,
           ROUND(sacc.avg_confidence, 6) AS avg_confidence,
           ROUND(mdd.current_drawdown, 6) AS current_drawdown,
           ROUND(pm.vol, 6) AS portfolio_volatility,
           ROUND(pm.sharpe, 6) AS sharpe_ratio,
           ROUND(mdd.max_drawdown, 6) AS max_drawdown,
           ROUND(v95.var_95, 6) AS var_95,
           ROUND(dq.data_quality_score, 6) AS data_quality_score,
           ROUND(lat.avg_ts_ms + lat.avg_llm_ms, 6) AS avg_latency_ms,
           CAST(1
                + CASE WHEN dq.data_quality_score < 0.9 THEN 1 ELSE 0 END
                + CASE WHEN perf.profit_factor < 1.0 THEN 1 ELSE 0 END
                + CASE WHEN mdd.current_drawdown > 0.2 THEN 1 ELSE 0 END
                + CASE WHEN lat.avg_ts_ms + lat.avg_llm_ms > 5000
                       THEN 1 ELSE 0 END
                + CASE WHEN dq.avg_missing_pct > 0.05 THEN 1 ELSE 0 END
             AS INT) AS n_alerts,
           CAST(0 AS INT) AS profitability_proof,
           'synthetic' AS data_origin
    FROM perf, pm, mdd, v95, sacc, dq, lat
    """,
)
def dashboard_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's live performance-dashboard snapshot as ONE query —
    `monitoring/performance_dashboard.py:46-117` (`generate_live_metrics`):
    the lookback performance summary (trades/win-rate/profit-factor),
    the DAY-grain equity curve with current and max drawdown
    (`_current_drawdown` `:258-266`), annualized vol / Sharpe /
    interpolated 5% VaR over equity returns (`_compute_portfolio_metrics`
    `:217-246`), directional signal accuracy + average confidence over
    the latest signals (`_calculate_signal_accuracy` `:268-283`), the
    data-quality and latency summaries (`:167-216`), the alert census
    (`_build_alerts` `:318-339`), and the profitability-proof flag —
    pinned FALSE with the mandatory synthetic-data alert, exactly the
    reference's rule for non-live data origins (`:106-109`).

    Scale: every input collapses to a bounded aggregate before any
    window — pnl at order grain (map-side), the equity curve at DAY
    grain (bounded rows), signals one per key, quality/latency single
    aggregates. The only ordered windows run over the day-grain curve."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")

    mx = o.agg(F.max("o_orderdate").alias("mx"))
    signed = F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.when(
        F.col("l_returnflag") == "R", -1
    ).otherwise(1)
    pnl = (
        o.filter(F.col("o_orderstatus") == "F")
        .crossJoin(F.broadcast(mx))
        .filter(
            F.col("o_orderdate")
            >= F.col("mx") - F.expr(f"INTERVAL {_DB_LOOKBACK_DAYS} DAY")
        )
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("d"))
        .agg(r6(F.sum(signed)).alias("pnl"))
    )
    # DAY-grain partials once, everything else from the bounded frame
    # (optimization round 13, guide §2.4): perf and the equity curve each
    # re-embedded the order-grain lineitem join; every per-trade stat the
    # snapshot needs decomposes over day partials (win counts and trade
    # counts are exact integer sums; the money sums are the same r6'd
    # trade values regrouped), so one pass + a <=lookback-days checkpoint
    # replaces two full passes and the 1,394-line plan.
    p = F.col("pnl")
    day_stats = (
        pnl.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_t"),
            F.sum(F.when(p > 0, 1).otherwise(0)).alias("n_win"),
            F.sum(F.when(p > 0, p).otherwise(0.0)).alias("s_pos"),
            F.sum(F.when(p < 0, -p).otherwise(0.0)).alias("s_neg"),
            F.sum(p).alias("day_pnl"),
        )
        .localCheckpoint(eager=False)
    )
    perf = day_stats.agg(
        F.sum("n_t").cast("long").alias("total_trades"),
        (
            F.sum("n_win").cast("double") / F.sum("n_t").cast("double")
        ).alias("win_rate"),
        (
            F.sum("s_pos") / F.nullif(F.sum("s_neg"), F.lit(0.0))
        ).alias("profit_factor"),
        F.sum("day_pnl").alias("total_profit"),
        (F.sum("day_pnl") / F.sum("n_t").cast("double")).alias("avg_profit"),
    )
    wd = W.orderBy("d")
    eq = day_stats.select(
        "d",
        (
            100000.0
            + F.sum("day_pnl").over(wd.rowsBetween(W.unboundedPreceding, 0))
        ).alias("equity"),
    )
    eqx = eq.select(
        "d",
        "equity",
        F.max("equity").over(wd.rowsBetween(W.unboundedPreceding, 0)).alias("runmax"),
        F.lag("equity").over(wd).alias("prev"),
        F.row_number().over(W.orderBy(F.desc("d"))).alias("rdesc"),
    ).localCheckpoint(eager=False)  # day grain; feeds pm/mdd/rk/v95
    rets = eqx.filter(F.col("prev").isNotNull()).select(
        "d",
        F.when(F.col("prev") != 0, (F.col("equity") - F.col("prev")) / F.col("prev")).alias("ret"),
    )
    rr = rets.filter(F.col("ret").isNotNull())
    pm = rr.agg(
        (F.stddev_samp("ret") * math.sqrt(252)).alias("vol"),
        F.when(
            F.stddev_samp("ret") > 0,
            F.avg("ret") / F.stddev_samp("ret") * math.sqrt(252),
        )
        .otherwise(0.0)
        .alias("sharpe"),
        F.count("ret").cast("long").alias("nret"),
    )
    mdd = eqx.agg(
        F.max(
            F.when(F.col("runmax") != 0, 1 - F.col("equity") / F.col("runmax")).otherwise(0.0)
        ).alias("max_drawdown"),
        F.max(
            F.when(
                (F.col("rdesc") == 1) & (F.col("runmax") != 0),
                1 - F.col("equity") / F.col("runmax"),
            ).when(F.col("rdesc") == 1, 0.0)
        ).alias("current_drawdown"),
    )
    rk = rr.select(
        "ret", F.row_number().over(W.orderBy("ret", "d")).alias("rk")
    )
    pos = (F.col("nret") - 1) * 0.05
    v95 = (
        pm.select("nret")
        .withColumn("pos", pos)
        .withColumn("k_lo", F.floor(F.col("pos")).cast("long"))
        .withColumn("k_hi", F.ceil(F.col("pos")).cast("long"))
        .join(rk.select(F.col("rk").alias("rk1"), F.col("ret").alias("r_lo")))
        .filter(F.col("rk1") == F.col("k_lo") + 1)
        .join(rk.select(F.col("rk").alias("rk2"), F.col("ret").alias("r_hi")))
        .filter(F.col("rk2") == F.col("k_hi") + 1)
        .select(
            (
                F.col("r_lo")
                + (F.col("pos") - F.floor(F.col("pos")))
                * (F.col("r_hi") - F.col("r_lo"))
            ).alias("var_95")
        )
        # aggregate wrapper: one row even when the curve has < 2 days,
        # so the crossJoin chain cannot erase the snapshot row
        .agg(F.max("var_95").alias("var_95"))
    )
    wp = W.partitionBy("user_id").orderBy("rn")
    sigseries = (
        ev.filter(F.col("value") > 0)
        .select(
            "user_id",
            "value",
            F.row_number()
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("user_id")).alias("n"),
        )
    )
    lrcol = F.log(F.col("value") / F.lag("value").over(wp))
    sigfeat = sigseries.select(
        "user_id",
        "rn",
        "n",
        "value",
        F.avg("value").over(wp.rowsBetween(-4, 0)).alias("ma5"),
        F.stddev_samp(lrcol).over(wp.rowsBetween(-19, 0)).alias("vol20"),
        F.lead("value").over(wp).alias("nxt"),
    )
    er = (F.col("ma5") - F.col("value")) / F.col("value") - 0.002
    sigs = sigfeat.filter(
        (F.col("rn") == F.col("n") - 1) & (F.col("rn") >= 21)
    ).select(
        (F.col("nxt") / F.col("value") - 1).alias("actual_return"),
        F.least(F.abs(er) / F.col("vol20"), F.lit(1.0)).alias("conf"),
        F.when((er > 0.01) & (er / F.col("vol20") > 0.5), "BUY")
        .when((er < -0.01) & (-er / F.col("vol20") > 0.5), "SELL")
        .otherwise("HOLD")
        .alias("action"),
    )
    correct = (
        ((F.col("action") == "BUY") & (F.col("actual_return") > 0))
        | ((F.col("action") == "SELL") & (F.col("actual_return") < 0))
        | ((F.col("action") == "HOLD") & (F.abs(F.col("actual_return")) < 1e-6))
    )
    sacc = sigs.agg(
        F.count(F.lit(1)).cast("long").alias("signal_count"),
        F.avg(F.when(correct, 1.0).otherwise(0.0)).alias("signal_accuracy"),
        F.avg("conf").alias("avg_confidence"),
    )
    # one events pass for quality + latency (same conditional aggregates,
    # previously two separate scans crossJoined back together)
    dqlat = ev.agg(
        F.avg(
            F.when(F.col("value").isNotNull() & (F.col("value") > 0), 1.0).otherwise(
                0.0
            )
        ).alias("data_quality_score"),
        F.avg(F.when(F.col("value").isNull(), 1.0).otherwise(0.0)).alias(
            "avg_missing_pct"
        ),
        F.avg(F.when(F.col("event_type") == "view", F.col("value"))).alias(
            "avg_ts_ms"
        ),
        F.avg(F.when(F.col("event_type") == "click", F.col("value"))).alias(
            "avg_llm_ms"
        ),
    )
    snap = (
        perf.crossJoin(pm)
        .crossJoin(mdd)
        .crossJoin(v95)
        .crossJoin(sacc)
        .crossJoin(dqlat)
    )
    total_lat = F.col("avg_ts_ms") + F.col("avg_llm_ms")
    n_alerts = (
        F.lit(1)
        + F.when(F.col("data_quality_score") < 0.9, 1).otherwise(0)
        + F.when(F.col("profit_factor") < 1.0, 1).otherwise(0)
        + F.when(F.col("current_drawdown") > 0.2, 1).otherwise(0)
        + F.when(total_lat > 5000, 1).otherwise(0)
        + F.when(F.col("avg_missing_pct") > 0.05, 1).otherwise(0)
    )
    return snap.select(
        "total_trades",
        r6(F.col("win_rate")).alias("win_rate"),
        r6(F.col("profit_factor")).alias("profit_factor"),
        r6(F.col("total_profit")).alias("total_profit"),
        r6(F.col("avg_profit")).alias("avg_profit_per_trade"),
        "signal_count",
        r6(F.col("signal_accuracy")).alias("signal_accuracy"),
        r6(F.col("avg_confidence")).alias("avg_confidence"),
        r6(F.col("current_drawdown")).alias("current_drawdown"),
        r6(F.col("vol")).alias("portfolio_volatility"),
        r6(F.col("sharpe")).alias("sharpe_ratio"),
        r6(F.col("max_drawdown")).alias("max_drawdown"),
        r6(F.col("var_95")).alias("var_95"),
        r6(F.col("data_quality_score")).alias("data_quality_score"),
        r6(total_lat).alias("avg_latency_ms"),
        n_alerts.cast("int").alias("n_alerts"),
        F.lit(0).cast("int").alias("profitability_proof"),
        F.lit("synthetic").alias("data_origin"),
    )


# ---------------------------------------------------------------------------
# Exit-quality audit: per-reason breakdown + direction-gap diagnosis
# ---------------------------------------------------------------------------

# Reference `scripts/exit_quality_audit.py`: trade loading + derived
# columns (`:45-114`: is_winner, ATR-proxy risk unit, r_multiple,
# correct-direction-negative-PnL flags), per-exit-reason breakdown
# (`:116-143`) and the direction-gap interpretation ladder (`:145-218`).
# The trade frame is the round-trip world of this pack: order = trade,
# aggregated open/close lots (deterministic under line-number ties), the
# close lot's shipmode playing the exit_reason channel and its unit-price
# spread playing the single-bar high/low ATR proxy.
_EXQ_SQL = """
      WITH mx AS (
        SELECT l_orderkey, MAX(l_linenumber) AS maxline
        FROM lineitem GROUP BY l_orderkey
      ),
      closes AS (
        SELECT l.l_orderkey,
               SUM(l.l_quantity) AS cq,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
               MAX(l.l_shipdate) AS cship,
               MIN(l.l_tax) AS ctax,
               MAX(l.l_extendedprice / l.l_quantity) AS bar_high,
               MIN(l.l_extendedprice / l.l_quantity) AS bar_low
        FROM lineitem l
        JOIN mx ON mx.l_orderkey = l.l_orderkey
               AND l.l_linenumber = mx.maxline
        GROUP BY l.l_orderkey
      ),
      opens AS (
        SELECT l_orderkey,
               SUM(l_quantity) AS oq,
               SUM(l_extendedprice * (1 - l_discount)) AS onet,
               MIN(l_shipdate) AS oship,
               MAX(l_linestatus) AS ostatus
        FROM lineitem
        WHERE l_linenumber = 1 AND l_returnflag <> 'R'
        GROUP BY l_orderkey
      ),
      raw AS (
        SELECT c.l_orderkey AS orderkey,
               CASE WHEN o2.ostatus = 'O' THEN 'BUY' ELSE 'SELL' END AS action,
               CASE WHEN c.ctax < 0.015 THEN 'stop_loss'
                    WHEN c.ctax < 0.045 THEN 'time_exit'
                    WHEN c.ctax < 0.075 THEN 'signal_exit'
                    ELSE 'unknown' END AS exit_reason,
               ROUND(c.cnet - o2.onet, 6) AS pnl,
               o2.onet / o2.oq AS entry_price,
               c.cnet / c.cq AS exit_price,
               c.bar_high, c.bar_low,
               DATEDIFF('day', o2.oship, c.cship) AS holding_days
        FROM closes c
        JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
        JOIN orders o ON o.o_orderkey = c.l_orderkey
        WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
      ),
      trades AS (
        SELECT *,
               CASE WHEN pnl > 0 THEN 1 ELSE 0 END AS is_winner,
               CASE WHEN bar_high IS NOT NULL AND bar_low IS NOT NULL
                         AND entry_price > 0 AND bar_high > bar_low
                    THEN bar_high - bar_low
                    WHEN entry_price > 0 THEN entry_price * 0.015
                    END AS atr_proxy,
               CASE WHEN (action = 'BUY' AND exit_price > entry_price
                          AND pnl < 0)
                         OR (action = 'SELL' AND exit_price < entry_price
                             AND pnl < 0)
                    THEN 1 ELSE 0 END AS correct_dir_neg_pnl
        FROM raw
      ),
      tr AS (
        SELECT *,
               pnl / NULLIF(atr_proxy * 1.5, 0.0) AS r_multiple
        FROM trades
      )
"""


@query(
    "exit_quality_breakdown",
    oracle=f"""
    {_EXQ_SQL}
    SELECT exit_reason,
           CAST(COUNT(*) AS BIGINT) AS n_trades,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / (SELECT COUNT(*) FROM tr), 6) AS pct_of_total,
           ROUND(AVG(CAST(is_winner AS DOUBLE)), 6) AS win_rate,
           ROUND(AVG(pnl), 6) AS mean_pnl,
           ROUND(QUANTILE_CONT(pnl, 0.5), 6) AS median_pnl,
           ROUND(QUANTILE_CONT(r_multiple, 0.5), 6) AS median_r_multiple
    FROM tr GROUP BY exit_reason
    """,
)
def exit_quality_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-exit-reason trade statistics — reference
    `scripts/exit_quality_audit.py:116-143`
    (`compute_exit_reason_breakdown`): count, share of total, win rate,
    mean/median PnL and the median R-multiple, where the R-multiple is
    realized PnL over 1.5x the single-bar ATR proxy (bar range, entry
    fallback 1.5%) — `:92-103`.

    Scale: two lot aggregations + one bounded per-reason groupBy; the
    fleet total is a broadcast scalar. Exact medians run on the
    per-reason frames (bounded reason cardinality)."""
    tr = _exit_trades_frame(spark, sf_dir)
    total = tr.agg(F.count(F.lit(1)).alias("total"))
    return (
        tr.groupBy("exit_reason")
        .agg(
            F.count(F.lit(1)).alias("n_trades"),
            F.avg(F.col("is_winner").cast("double")).alias("wr"),
            F.avg("pnl").alias("mean_pnl"),
            F.expr("percentile(pnl, 0.5)").alias("med_pnl"),
            F.expr("percentile(r_multiple, 0.5)").alias("med_r"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "exit_reason",
            "n_trades",
            r6(F.col("n_trades").cast("double") / F.col("total")).alias(
                "pct_of_total"
            ),
            r6(F.col("wr")).alias("win_rate"),
            r6(F.col("mean_pnl")).alias("mean_pnl"),
            r6(F.col("med_pnl")).alias("median_pnl"),
            r6(F.col("med_r")).alias("median_r_multiple"),
        )
    )


def canonical_legs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical closed round-trip superset — a projection of
    ``_closed_trades`` (one row per 'F'-status order with both legs)
    onto every column the report family reads: close aggregates
    (cq/cnet/cship/ctax/bar extremes), open aggregates
    (oq/onet/oship/ostatus), and the order dims (sid/ticker/priority).

    Materialized ONCE per (Spark application, sf_dir) through the shared
    probed-localCheckpoint registry (``operators/memo.py``: evicts dead
    sessions, probes the non-reliable checkpoint, rebuilds on block
    loss), so the five consumers (`_exit_trades_frame`,
    `_sleeve_trades_frame`, `ticker_eligibility_classification`,
    `context_quality_report`, `performance_chart_data` — and
    `quality_pipeline_status`, which composes them) share one lineitem
    pass instead of re-deriving it per query. At cluster scale the
    checkpoint is an order-grain frame (≪ lineitem) partitioned by the
    shuffle that built it."""
    from ..operators.memo import memoize_checkpoint

    return memoize_checkpoint(
        spark, "canonical_legs_frame", sf_dir,
        lambda: _build_canonical_legs(spark, sf_dir),
    )


def _build_canonical_legs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sid = F.col("o_custkey") % 25
    return _closed_trades(spark, sf_dir).select(
        F.col("c.l_orderkey").alias("orderkey"),
        sid.alias("sid"),
        F.concat(F.lit("T"), sid.cast("string")).alias("ticker"),
        "o_orderpriority",
        "cq", "cnet", "cship", "ctax", "bar_high", "bar_low",
        "oq", "onet", "oship", "ostatus",
    )


def _trade_legs(
    spark: SparkSession, sf_dir: str, decimal_net: bool = False
) -> DataFrame:
    """Both lots of every round trip, one row per ``l_orderkey`` — the
    close and open sides of the reference's round_trips view
    (`etl/database_manager.py:1404-1425`; see `round_trips`).

    Line numbers are not unique within an order, so both are AGGREGATED
    lots: the close lot sums all legs at the max line number (cq, cnet,
    cship, close_d = to_date(cship), ctax, bar_high, bar_low); the open
    lot sums the unflagged line-1 legs (oq, onet, oship, ostatus), and
    ``n_open`` counts them. Every row has a close lot; the open columns
    are NULL exactly where an order has no open leg (``n_open = 0``),
    which is what a LEFT JOIN of separate lot aggregates gives.
    Consumers read a subset; Catalyst's column pruning drops the
    aggregates they never read. ``decimal_net`` sums the net in
    decimal(18,2) x decimal(5,2) instead of double, for callers whose
    price quotients must be bit-identical to the oracle's DECIMAL sums
    (SURVEY §7.3 item 6).

    Scale: ONE lineitem pass — a max-line window partitioned by the
    order key, then one groupBy on the same key with CASE-guarded lot
    aggregates, so the window's exchange also serves the groupBy: one
    full lineitem shuffle and no join. No UDF."""
    if decimal_net:
        net = (
            "CAST(l_extendedprice AS DECIMAL(18,2))"
            " * CAST(1 - l_discount AS DECIMAL(5,2))"
        )
    else:
        net = "l_extendedprice * (1 - l_discount)"
    legs = (
        load_table(spark, sf_dir, "lineitem")
        # a leg without an order key or a line number is in no lot
        .filter("l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL")
        .selectExpr(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
            "l_shipdate", "l_tax", "l_linestatus",
            "l_linenumber = max(l_linenumber) OVER (PARTITION BY l_orderkey)"
            " AS is_c",
            "l_linenumber = 1 AND l_returnflag <> 'R' AS is_o",
        )
    )
    return legs.groupBy("l_orderkey").agg(
        *(
            F.expr(e)
            for e in (
                "sum(CASE WHEN is_c THEN l_quantity END) AS cq",
                f"sum(CASE WHEN is_c THEN {net} END) AS cnet",
                "max(CASE WHEN is_c THEN l_shipdate END) AS cship",
                "to_date(max(CASE WHEN is_c THEN l_shipdate END)) AS close_d",
                "min(CASE WHEN is_c THEN l_tax END) AS ctax",
                "max(CASE WHEN is_c THEN l_extendedprice / l_quantity END)"
                " AS bar_high",
                "min(CASE WHEN is_c THEN l_extendedprice / l_quantity END)"
                " AS bar_low",
                "sum(CASE WHEN is_o THEN l_quantity END) AS oq",
                f"sum(CASE WHEN is_o THEN {net} END) AS onet",
                "min(CASE WHEN is_o THEN l_shipdate END) AS oship",
                "max(CASE WHEN is_o THEN l_linestatus END) AS ostatus",
                "count(CASE WHEN is_o THEN 1 END) AS n_open",
            )
        )
    )


def _closed_trades(
    spark: SparkSession, sf_dir: str, decimal_net: bool = False
) -> DataFrame:
    """Closed round trips: the ``_trade_legs`` lots ("c") inner joined
    to the 'F'-status order, with both lots non-empty (oq > 0 AND
    cq > 0). The ``c`` qualifier stays visible, so consumers read
    ``F.col("c.l_orderkey")``.

    Scale: the one-pass lot frame plus one join to orders."""
    o = load_table(spark, sf_dir, "orders")
    return (
        _trade_legs(spark, sf_dir, decimal_net)
        .alias("c")
        .join(
            o.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("c.l_orderkey"),
        )
        .filter((F.col("oq") > 0) & (F.col("cq") > 0))
    )


@session_frame_cache
def _exit_trades_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared production round-trip frame with exit-quality columns —
    a projection of the family-shared ``canonical_legs_frame``."""
    raw = canonical_legs_frame(spark, sf_dir).select(
        "orderkey",
        F.when(F.col("ostatus") == "O", "BUY").otherwise("SELL").alias(
            "action"
        ),
            F.when(F.col("ctax") < 0.015, "stop_loss")
            .when(F.col("ctax") < 0.045, "time_exit")
            .when(F.col("ctax") < 0.075, "signal_exit")
            .otherwise("unknown")
            .alias("exit_reason"),
            F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
            (F.col("onet") / F.col("oq")).alias("entry_price"),
            (F.col("cnet") / F.col("cq")).alias("exit_price"),
            "bar_high",
            "bar_low",
            F.datediff(F.to_date("cship"), F.to_date("oship")).alias(
                "holding_days"
            ),
    )
    atr = (
        F.when(
            F.col("bar_high").isNotNull()
            & F.col("bar_low").isNotNull()
            & (F.col("entry_price") > 0)
            & (F.col("bar_high") > F.col("bar_low")),
            F.col("bar_high") - F.col("bar_low"),
        )
        .when(F.col("entry_price") > 0, F.col("entry_price") * 0.015)
    )
    dir_neg = (
        (F.col("action") == "BUY")
        & (F.col("exit_price") > F.col("entry_price"))
        & (F.col("pnl") < 0)
    ) | (
        (F.col("action") == "SELL")
        & (F.col("exit_price") < F.col("entry_price"))
        & (F.col("pnl") < 0)
    )
    trades = raw.select(
        "*",
        F.when(F.col("pnl") > 0, 1).otherwise(0).alias("is_winner"),
        atr.alias("atr_proxy"),
        F.when(dir_neg, 1).otherwise(0).alias("correct_dir_neg_pnl"),
    )
    # 4 member queries; materialize once (optimization round 12, §2.4)
    return trades.withColumn(
        "r_multiple",
        F.col("pnl") / F.nullif(F.col("atr_proxy") * 1.5, F.lit(0.0)),
    ).localCheckpoint(eager=False)


@query(
    "direction_gap_diagnosis",
    oracle=f"""
    {_EXQ_SQL},
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_trades,
             AVG(CAST(is_winner AS DOUBLE)) AS overall_wr,
             AVG(CASE WHEN exit_reason = 'stop_loss' THEN 1.0 ELSE 0.0 END)
               AS stop_pct,
             AVG(CASE WHEN exit_reason = 'time_exit' THEN 1.0 ELSE 0.0 END)
               AS time_pct,
             AVG(CASE WHEN exit_reason = 'signal_exit' THEN 1.0 ELSE 0.0 END)
               AS signal_pct,
             AVG(CASE WHEN exit_reason = 'stop_loss'
                      THEN CAST(is_winner AS DOUBLE) END) AS stop_wr,
             AVG(CASE WHEN exit_reason = 'time_exit'
                      THEN CAST(is_winner AS DOUBLE) END) AS time_wr,
             AVG(CASE WHEN exit_reason = 'signal_exit'
                      THEN CAST(is_winner AS DOUBLE) END) AS signal_wr,
             CAST(SUM(correct_dir_neg_pnl) AS BIGINT) AS n_dir_neg,
             AVG(CAST(correct_dir_neg_pnl AS DOUBLE)) AS pct_dir_neg,
             AVG(CASE WHEN is_winner = 1
                      THEN CAST(holding_days AS DOUBLE) END) AS hold_win,
             AVG(CASE WHEN is_winner = 0
                      THEN CAST(holding_days AS DOUBLE) END) AS hold_lose
      FROM tr
    )
    SELECT total_trades,
           ROUND(overall_wr, 6) AS overall_win_rate,
           ROUND(stop_pct, 6) AS stop_loss_pct,
           ROUND(time_pct, 6) AS time_exit_pct,
           ROUND(signal_pct, 6) AS signal_exit_pct,
           ROUND(stop_wr, 6) AS stop_loss_win_rate,
           ROUND(time_wr, 6) AS time_exit_win_rate,
           ROUND(signal_wr, 6) AS signal_exit_win_rate,
           n_dir_neg AS correct_direction_negative_pnl,
           ROUND(pct_dir_neg, 6) AS pct_correct_dir_neg_pnl,
           ROUND(hold_win, 6) AS mean_holding_days_winners,
           ROUND(hold_lose, 6) AS mean_holding_days_losers,
           CASE WHEN stop_pct > 0.40 THEN 'stop_too_tight'
                WHEN time_pct > 0.40 AND COALESCE(time_wr, 0.5) < 0.45
                THEN 'holding_too_short'
                ELSE 'mix' END AS interpretation
    FROM g
    """,
)
def direction_gap_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecast-DA-to-win-rate gap diagnosis — reference
    `scripts/exit_quality_audit.py:145-218` (`diagnose_direction_gap`):
    exit-reason mix, per-reason win rates, the correct-direction-but-
    negative-PnL census, winner/loser holding periods and the
    interpretation ladder (stop share > 40% -> stop_too_tight; time-exit
    share > 40% with sub-45% time-exit win rate -> holding_too_short;
    else mix). One bounded fleet aggregation over the shared trade
    frame."""
    tr = _exit_trades_frame(spark, sf_dir)
    iw = F.col("is_winner").cast("double")
    reason = F.col("exit_reason")
    g = tr.agg(
        F.count(F.lit(1)).alias("total_trades"),
        F.avg(iw).alias("overall_wr"),
        F.avg(F.when(reason == "stop_loss", 1.0).otherwise(0.0)).alias(
            "stop_pct"
        ),
        F.avg(F.when(reason == "time_exit", 1.0).otherwise(0.0)).alias(
            "time_pct"
        ),
        F.avg(F.when(reason == "signal_exit", 1.0).otherwise(0.0)).alias(
            "signal_pct"
        ),
        F.avg(F.when(reason == "stop_loss", iw)).alias("stop_wr"),
        F.avg(F.when(reason == "time_exit", iw)).alias("time_wr"),
        F.avg(F.when(reason == "signal_exit", iw)).alias("signal_wr"),
        F.sum("correct_dir_neg_pnl").cast("bigint").alias("n_dir_neg"),
        F.avg(F.col("correct_dir_neg_pnl").cast("double")).alias("pct_dir_neg"),
        F.avg(
            F.when(F.col("is_winner") == 1, F.col("holding_days").cast("double"))
        ).alias("hold_win"),
        F.avg(
            F.when(F.col("is_winner") == 0, F.col("holding_days").cast("double"))
        ).alias("hold_lose"),
    )
    return g.select(
        "total_trades",
        r6(F.col("overall_wr")).alias("overall_win_rate"),
        r6(F.col("stop_pct")).alias("stop_loss_pct"),
        r6(F.col("time_pct")).alias("time_exit_pct"),
        r6(F.col("signal_pct")).alias("signal_exit_pct"),
        r6(F.col("stop_wr")).alias("stop_loss_win_rate"),
        r6(F.col("time_wr")).alias("time_exit_win_rate"),
        r6(F.col("signal_wr")).alias("signal_exit_win_rate"),
        F.col("n_dir_neg").alias("correct_direction_negative_pnl"),
        r6(F.col("pct_dir_neg")).alias("pct_correct_dir_neg_pnl"),
        r6(F.col("hold_win")).alias("mean_holding_days_winners"),
        r6(F.col("hold_lose")).alias("mean_holding_days_losers"),
        F.when(F.col("stop_pct") > 0.40, "stop_too_tight")
        .when(
            (F.col("time_pct") > 0.40)
            & (F.coalesce(F.col("time_wr"), F.lit(0.5)) < 0.45),
            "holding_too_short",
        )
        .otherwise("mix")
        .alias("interpretation"),
    )


# ---------------------------------------------------------------------------
# Transaction-cost estimation + slippage-window analysis
# ---------------------------------------------------------------------------

# Reference `scripts/estimate_transaction_costs.py`: per-group cost stats
# (`:155-231`: commission raw + bps, |mid-slippage| bps, total and 2x
# round-trip cost, linear-interpolation percentiles `:98-110`) over the
# trade_executions ledger, with the prefix-based asset-class bucketing
# (`:112-129`). The execution frame here is one lineitem leg per fill:
# gross unit price plays the fill price, net unit price plays the mid,
# the tax charge plays the commission, and the asset class is a
# deterministic key bucket (the reference buckets on ticker suffixes).
_TC_SQL = """
      SELECT CASE l_partkey % 5 WHEN 0 THEN 'US_EQUITY'
                  WHEN 1 THEN 'INTL_EQUITY' WHEN 2 THEN 'FX'
                  WHEN 3 THEN 'CRYPTO' ELSE 'INDEX' END AS asset_class,
             l_tax * l_extendedprice AS commission,
             l_extendedprice AS total_value,
             CASE WHEN l_extendedprice > 0
                  THEN l_tax * 1e4 ELSE 0.0 END AS commission_bps,
             ABS((l_discount / (1 - l_discount)) * 1e4) AS slippage_bps,
             l_extendedprice * (1 - l_discount)
               * CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END AS pnl
      FROM lineitem
"""


@query(
    "transaction_cost_estimates",
    oracle=f"""
    WITH ex AS ({_TC_SQL}),
    c AS (
      SELECT asset_class,
             commission, commission_bps, slippage_bps,
             commission_bps + slippage_bps AS total_cost_bps, pnl
      FROM ex
    )
    SELECT asset_class,
           CAST(COUNT(*) AS BIGINT) AS trades,
           ROUND(QUANTILE_CONT(commission, 0.5), 6) AS commission_median,
           ROUND(AVG(commission), 6) AS commission_mean,
           ROUND(QUANTILE_CONT(commission, 0.95), 6) AS commission_p95,
           ROUND(QUANTILE_CONT(commission_bps, 0.5), 6)
             AS commission_median_bps,
           ROUND(AVG(commission_bps), 6) AS commission_mean_bps,
           ROUND(QUANTILE_CONT(slippage_bps, 0.5), 6) AS slippage_median_bps,
           ROUND(AVG(slippage_bps), 6) AS slippage_mean_bps,
           ROUND(QUANTILE_CONT(slippage_bps, 0.95), 6) AS slippage_p95_bps,
           ROUND(QUANTILE_CONT(total_cost_bps, 0.5), 6)
             AS total_cost_median_bps,
           ROUND(AVG(total_cost_bps), 6) AS total_cost_mean_bps,
           ROUND(QUANTILE_CONT(total_cost_bps, 0.95), 6)
             AS total_cost_p95_bps,
           ROUND(2.0 * QUANTILE_CONT(total_cost_bps, 0.5), 6)
             AS roundtrip_cost_median_bps,
           ROUND(2.0 * AVG(total_cost_bps), 6) AS roundtrip_cost_mean_bps,
           ROUND(QUANTILE_CONT(pnl, 0.5), 6) AS pnl_median,
           ROUND(AVG(pnl), 6) AS pnl_mean
    FROM c GROUP BY asset_class
    """,
)
def transaction_cost_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-asset-class transaction-cost profile — reference
    `scripts/estimate_transaction_costs.py:155-231`
    (`_compute_group_stats`): commission (raw and bps of traded value),
    absolute mid-price slippage bps, total cost bps and its 2x
    round-trip projection, each as mean + linear-interpolation
    median/p95, plus the realized-PnL location stats.

    Scale: one pass, one bounded per-class groupBy (5 classes); exact
    percentiles run per class. No UDF, no collect."""
    li = load_table(spark, sf_dir, "lineitem")
    ex = li.select(
        (F.col("l_partkey") % 5).alias("b"),
        (F.col("l_tax") * F.col("l_extendedprice")).alias("commission"),
        F.when(
            F.col("l_extendedprice") > 0, F.col("l_tax") * 1e4
        ).otherwise(0.0).alias("commission_bps"),
        F.abs(
            F.col("l_discount") / (1 - F.col("l_discount")) * 1e4
        ).alias("slippage_bps"),
        (
            F.col("l_extendedprice")
            * (1 - F.col("l_discount"))
            * F.when(F.col("l_returnflag") == "R", -1).otherwise(1)
        ).alias("pnl"),
    ).select(
        F.when(F.col("b") == 0, "US_EQUITY")
        .when(F.col("b") == 1, "INTL_EQUITY")
        .when(F.col("b") == 2, "FX")
        .when(F.col("b") == 3, "CRYPTO")
        .otherwise("INDEX")
        .alias("asset_class"),
        "commission",
        "commission_bps",
        "slippage_bps",
        (F.col("commission_bps") + F.col("slippage_bps")).alias(
            "total_cost_bps"
        ),
        "pnl",
    )

    def med(c):
        return F.expr(f"percentile({c}, 0.5)")

    def p95(c):
        return F.expr(f"percentile({c}, 0.95)")

    return ex.groupBy("asset_class").agg(
        F.count(F.lit(1)).alias("trades"),
        r6(med("commission")).alias("commission_median"),
        r6(F.avg("commission")).alias("commission_mean"),
        r6(p95("commission")).alias("commission_p95"),
        r6(med("commission_bps")).alias("commission_median_bps"),
        r6(F.avg("commission_bps")).alias("commission_mean_bps"),
        r6(med("slippage_bps")).alias("slippage_median_bps"),
        r6(F.avg("slippage_bps")).alias("slippage_mean_bps"),
        r6(p95("slippage_bps")).alias("slippage_p95_bps"),
        r6(med("total_cost_bps")).alias("total_cost_median_bps"),
        r6(F.avg("total_cost_bps")).alias("total_cost_mean_bps"),
        r6(p95("total_cost_bps")).alias("total_cost_p95_bps"),
        r6(2.0 * med("total_cost_bps")).alias("roundtrip_cost_median_bps"),
        r6(2.0 * F.avg("total_cost_bps")).alias("roundtrip_cost_mean_bps"),
        r6(med("pnl")).alias("pnl_median"),
        r6(F.avg("pnl")).alias("pnl_mean"),
    )


@query(
    "slippage_window_analysis",
    oracle="""
    WITH mid AS (
      SELECT user_id, CAST(ts AS DATE) AS d, AVG(value) AS mid_price
      FROM events WHERE value > 0
      GROUP BY user_id, CAST(ts AS DATE)
    ),
    ev AS (
      SELECT e.event_type,
             EXTRACT(HOUR FROM e.ts) AS hour_utc,
             (e.value - m.mid_price) / m.mid_price * 1e4 AS slip_bp
      FROM events e
      JOIN mid m ON m.user_id = e.user_id AND m.d = CAST(e.ts AS DATE)
      WHERE e.value > 0 AND m.mid_price > 0
    )
    SELECT 'hour' AS dimension, CAST(hour_utc AS VARCHAR) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS records,
           ROUND(QUANTILE_CONT(slip_bp, 0.5), 6) AS mid_slippage_median_bp,
           ROUND(QUANTILE_CONT(slip_bp, 0.9), 6) AS mid_slippage_p90_bp
    FROM ev GROUP BY hour_utc
    UNION ALL
    SELECT 'group', event_type, CAST(COUNT(*) AS BIGINT),
           ROUND(QUANTILE_CONT(slip_bp, 0.5), 6),
           ROUND(QUANTILE_CONT(slip_bp, 0.9), 6)
    FROM ev GROUP BY event_type
    """,
)
def slippage_window_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mid-price slippage windows — reference
    `scripts/analyze_slippage_windows.py:91-186`: per-fill slippage in
    basis points against the session mid (here the same-key same-day
    average price), profiled along BOTH report dimensions — hour-of-day
    (the liquidity-window view the script was built for) and instrument
    group — with linear-interpolation median/p90 per bucket.

    Scale: one (key, day) mid aggregation, an equi-join back (AQE
    broadcast at small SF, shuffle-hash beyond), two bounded groupBys.
    No UDF, no collect."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    mid = ev.groupBy("user_id", F.to_date("ts").alias("d")).agg(
        F.avg("value").alias("mid_price")
    )
    e = ev.select(
        "user_id", "event_type", "value",
        F.to_date("ts").alias("d"),
        F.hour("ts").alias("hour_utc"),
    )
    j = (
        e.join(mid, ["user_id", "d"])
        .filter(F.col("mid_price") > 0)
        .select(
            "event_type",
            "hour_utc",
            (
                (F.col("value") - F.col("mid_price"))
                / F.col("mid_price")
                * 1e4
            ).alias("slip_bp"),
        )
    )

    def stats(g, dim, key):
        return g.agg(
            F.count(F.lit(1)).alias("records"),
            r6(F.expr("percentile(slip_bp, 0.5)")).alias(
                "mid_slippage_median_bp"
            ),
            r6(F.expr("percentile(slip_bp, 0.9)")).alias(
                "mid_slippage_p90_bp"
            ),
        ).select(
            F.lit(dim).alias("dimension"),
            F.col(key).cast("string").alias("bucket"),
            "records",
            "mid_slippage_median_bp",
            "mid_slippage_p90_bp",
        )

    by_hour = stats(j.groupBy("hour_utc"), "hour", "hour_utc")
    by_group = stats(j.groupBy("event_type"), "group", "event_type")
    return by_hour.unionByName(by_group)


# ---------------------------------------------------------------------------
# Per-ticker eligibility classification (HEALTHY / WEAK / LAB_ONLY)
# ---------------------------------------------------------------------------

# Reference `scripts/compute_ticker_eligibility.py`: per-ticker rolling
# stats over production_closed_trades (`:66-185`: win rate, 99-capped
# profit factor, per-trade capital-at-risk returns feeding the
# NGN-hurdle omega and the support-aware payoff asymmetry from
# `etl/portfolio_math.py`, TAKE_PROFIT frequency) and the strict
# classification ladder (`:186-251`): explicit lab-only override ->
# TAKE_PROFIT-policy HEALTHY gate -> sufficient-weak-evidence WEAK ->
# LAB_ONLY with diagnostic reason codes. Thresholds from
# `etl/domain_objective.py` (omega floor 1.0, amplitude target 2.0) and
# `scripts/robustness_thresholds.py` / `capital_readiness_check.py:64-66`
# (R3 floors, WEAK_MIN_TRADES). Ticker = 25-way customer sleeve; the
# close lot's tax band plays the eligibility exit-reason vocabulary
# (TAKE_PROFIT / STOP_LOSS / TIME_EXIT).
from ..operators.risk import (
    DAILY_NGN_THRESHOLD as _ELG_TAU,
    MIN_LOSSES as _ELG_MIN_LOSSES,
    MIN_WINS as _ELG_MIN_WINS,
    MAX_WINNER_CONCENTRATION as _ELG_MAX_WC,
    OMEGA_INF_SENTINEL as _ELG_SENT,
    TRIM_FRACTION as _ELG_TRIM,
)

_ELG_HEALTHY_N = 20       # R3_MIN_TRADES
_ELG_WEAK_N = 5           # WEAK_MIN_TRADES
_ELG_WR_FLOOR = 0.45      # R3_MIN_WIN_RATE (diagnostic)
_ELG_PF_FLOOR = 1.30      # R3_MIN_PROFIT_FACTOR (diagnostic)
_ELG_OMEGA_FLOOR = 1.0    # MIN_OMEGA_VS_HURDLE
_ELG_PAYOFF_FLOOR = 2.0   # TARGET_AMPLITUDE_MULTIPLIER
_ELG_TP_FLOOR = 0.05      # min_take_profit_frequency_live

_ELG_SQL = f"""
      WITH mx AS (
        SELECT l_orderkey, MAX(l_linenumber) AS maxline
        FROM lineitem GROUP BY l_orderkey
      ),
      closes AS (
        SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
               MIN(l.l_tax) AS ctax
        FROM lineitem l
        JOIN mx ON mx.l_orderkey = l.l_orderkey
               AND l.l_linenumber = mx.maxline
        GROUP BY l.l_orderkey
      ),
      opens AS (
        SELECT l_orderkey, SUM(l_quantity) AS oq,
               SUM(l_extendedprice * (1 - l_discount)) AS onet
        FROM lineitem
        WHERE l_linenumber = 1 AND l_returnflag <> 'R'
        GROUP BY l_orderkey
      ),
      trades AS (
        SELECT 'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
               c.l_orderkey AS orderkey,
               ROUND(c.cnet - o2.onet, 6) AS pnl,
               CASE WHEN c.ctax < 0.015 THEN 'STOP_LOSS'
                    WHEN c.ctax < 0.045 THEN 'TIME_EXIT'
                    WHEN c.ctax < 0.075 THEN 'TAKE_PROFIT'
                    ELSE 'OTHER' END AS exit_reason,
               CASE WHEN ABS(o2.onet / o2.oq) * c.cq > 1e-9
                    THEN ROUND(c.cnet - o2.onet, 6)
                         / (ABS(o2.onet / o2.oq) * c.cq) END AS r
        FROM closes c
        JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
        JOIN orders o ON o.o_orderkey = c.l_orderkey
        WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
      ),
      t AS (
        SELECT ticker,
               CAST(COUNT(*) AS BIGINT) AS n_trades,
               AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
               SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END) AS gross_win,
               SUM(CASE WHEN pnl <= 0 THEN ABS(pnl) ELSE 0 END) AS gross_loss,
               ROUND(SUM(pnl), 2) AS total_pnl,
               AVG(CASE WHEN exit_reason = 'TAKE_PROFIT'
                        THEN 1.0 ELSE 0.0 END) AS tp_freq,
               COUNT(r) AS n_ret,
               SUM(GREATEST(r - {_ELG_TAU!r}, 0.0)) AS o_gain,
               SUM(GREATEST({_ELG_TAU!r} - r, 0.0)) AS o_loss
        FROM trades GROUP BY ticker
      ),
      wins AS (
        SELECT ticker, r,
               ROW_NUMBER() OVER (PARTITION BY ticker
                                  ORDER BY r DESC, orderkey) AS rk,
               COUNT(*) OVER (PARTITION BY ticker) AS nw
        FROM trades WHERE r > 0
      ),
      w AS (
        SELECT ticker, CAST(ANY_VALUE(nw) AS BIGINT) AS n_wins,
               SUM(r) AS wsum, AVG(r) AS avg_win, MAX(r) AS max_win,
               SUM(CASE WHEN rk > FLOOR(nw * {_ELG_TRIM})
                        THEN r END) AS trim_win_sum,
               CAST(SUM(CASE WHEN rk > FLOOR(nw * {_ELG_TRIM})
                        THEN 1 ELSE 0 END) AS BIGINT) AS trim_win_n
        FROM wins GROUP BY ticker
      ),
      losses AS (
        SELECT ticker, -r AS al, orderkey,
               ROW_NUMBER() OVER (PARTITION BY ticker
                                  ORDER BY r ASC, orderkey) AS rk,
               COUNT(*) OVER (PARTITION BY ticker) AS nl
        FROM trades WHERE r < 0
      ),
      l AS (
        SELECT ticker, CAST(ANY_VALUE(nl) AS BIGINT) AS n_losses,
               AVG(al) AS avg_loss,
               SUM(CASE WHEN rk > FLOOR(nl * {_ELG_TRIM})
                        THEN al END) AS trim_loss_sum,
               CAST(SUM(CASE WHEN rk > FLOOR(nl * {_ELG_TRIM})
                        THEN 1 ELSE 0 END) AS BIGINT) AS trim_loss_n
        FROM losses GROUP BY ticker
      ),
      j AS (
        SELECT t.*,
               COALESCE(w.n_wins, 0) AS n_wins,
               COALESCE(l.n_losses, 0) AS n_losses,
               CASE WHEN t.gross_loss > 1e-9
                    THEN LEAST(t.gross_win / t.gross_loss, 99.0)
                    WHEN t.gross_win > 0 THEN 99.0 ELSE 0.0 END
                 AS profit_factor,
               CASE WHEN t.n_ret < 10 THEN 0.0
                    WHEN t.o_loss = 0.0 THEN {_ELG_SENT!r}
                    ELSE t.o_gain / t.o_loss END AS omega,
               ROUND(CASE
                 WHEN COALESCE(l.n_losses, 0) = 0 OR l.avg_loss IS NULL
                 THEN CASE WHEN COALESCE(w.n_wins, 0) > 0
                           THEN {_ELG_SENT!r} ELSE 0.0 END
                 ELSE COALESCE(w.avg_win, 0.0)
                      / GREATEST(l.avg_loss, 1e-12) END, 6) AS payoff_raw,
               ROUND(CASE
                 WHEN COALESCE(l.trim_loss_n, 0) = 0
                 THEN CASE WHEN COALESCE(w.trim_win_n, 0) > 0
                           THEN {_ELG_SENT!r} ELSE 0.0 END
                 WHEN COALESCE(w.trim_win_n, 0) = 0 THEN 0.0
                 ELSE (w.trim_win_sum / GREATEST(w.trim_win_n, 1))
                      / GREATEST(l.trim_loss_sum
                                 / GREATEST(l.trim_loss_n, 1), 1e-12)
                 END, 6) AS payoff_trimmed,
               ROUND(CASE WHEN COALESCE(w.n_wins, 0) > 0
                          THEN w.max_win / GREATEST(w.wsum, 1e-12)
                          ELSE 0.0 END, 6) AS wc
        FROM t LEFT JOIN w ON w.ticker = t.ticker
               LEFT JOIN l ON l.ticker = t.ticker
      ),
      cls AS (
        SELECT ticker, n_trades, win_rate, profit_factor, total_pnl,
               tp_freq, omega,
               CASE WHEN n_wins >= {_ELG_MIN_WINS}
                         AND n_losses >= {_ELG_MIN_LOSSES}
                         AND wc <= {_ELG_MAX_WC}
                    THEN LEAST(payoff_raw, payoff_trimmed)
                    ELSE 0.0 END AS payoff_eff
        FROM j
      )
"""


@query(
    "ticker_eligibility_classification",
    oracle=f"""
    {_ELG_SQL}
    SELECT ticker, n_trades,
           ROUND(win_rate, 6) AS win_rate,
           ROUND(profit_factor, 6) AS profit_factor,
           total_pnl,
           ROUND(omega, 6) AS omega_ratio,
           ROUND(payoff_eff, 6) AS payoff_asymmetry_effective,
           ROUND(tp_freq, 6) AS take_profit_frequency,
           CASE WHEN ticker = 'T7' THEN 'LAB_ONLY'
                WHEN n_trades >= {_ELG_HEALTHY_N}
                     AND omega >= {_ELG_OMEGA_FLOOR}
                     AND payoff_eff >= {_ELG_PAYOFF_FLOOR}
                     AND tp_freq >= {_ELG_TP_FLOOR} THEN 'HEALTHY'
                WHEN n_trades >= {_ELG_WEAK_N}
                     AND (omega >= {_ELG_OMEGA_FLOOR}
                          OR payoff_eff >= {_ELG_PAYOFF_FLOOR}
                          OR tp_freq >= {_ELG_TP_FLOOR}) THEN 'WEAK'
                ELSE 'LAB_ONLY' END AS status,
           CASE
             WHEN ticker = 'T7' THEN 'explicit_lab_only_override'
             WHEN n_trades >= {_ELG_HEALTHY_N}
                  AND omega >= {_ELG_OMEGA_FLOOR}
                  AND payoff_eff >= {_ELG_PAYOFF_FLOOR}
                  AND tp_freq >= {_ELG_TP_FLOOR}
             THEN 'meets_take_profit_policy'
             WHEN n_trades >= {_ELG_WEAK_N}
                  AND (omega >= {_ELG_OMEGA_FLOOR}
                       OR payoff_eff >= {_ELG_PAYOFF_FLOOR}
                       OR tp_freq >= {_ELG_TP_FLOOR})
             THEN CONCAT_WS(',',
               CASE WHEN omega < {_ELG_OMEGA_FLOOR}
                    THEN 'omega_below_hurdle' END,
               CASE WHEN payoff_eff < {_ELG_PAYOFF_FLOOR}
                    THEN 'payoff_below_target' END,
               CASE WHEN tp_freq < {_ELG_TP_FLOOR}
                    THEN 'take_profit_frequency_below_floor' END,
               'sufficient_weak_evidence')
             ELSE COALESCE(NULLIF(CONCAT_WS(',',
               CASE WHEN n_trades < {_ELG_HEALTHY_N}
                    THEN 'insufficient_trade_count' END,
               CASE WHEN win_rate < {_ELG_WR_FLOOR}
                    THEN 'diagnostic_win_rate_below_r3_floor' END,
               CASE WHEN profit_factor < {_ELG_PF_FLOOR}
                    THEN 'diagnostic_profit_factor_below_r3_floor' END,
               CASE WHEN omega >= {_ELG_OMEGA_FLOOR}
                         AND payoff_eff >= {_ELG_PAYOFF_FLOOR}
                         AND tp_freq >= {_ELG_TP_FLOOR}
                    THEN 'primary_metrics_below_floor' END), ''),
               'manual_research_only') END AS reasons
    FROM cls
    """,
)
@shared_small_frame
def ticker_eligibility_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-ticker eligibility — reference
    `scripts/compute_ticker_eligibility.py:66-251`: rolling per-ticker
    stats (win rate, 99-capped profit factor, capital-at-risk returns),
    the NGN-hurdle omega (`etl/portfolio_math.py:540-613`, <10 returns
    -> 0, zero-loss -> the 1e6 sentinel), the support-aware effective
    payoff asymmetry (`:990-1032`: min(raw, 10%-trimmed) when the
    3-win/3-loss/winner-concentration support gate holds, else 0) and
    TAKE_PROFIT frequency, classified by the strict ladder: explicit
    lab-only override -> HEALTHY (meets the full TAKE_PROFIT policy) ->
    WEAK (>=5 trades with at least one primary metric at floor) ->
    LAB_ONLY with the diagnostic reason codes (`:186-251`). The
    'primary_metrics_below_floor' code fires exactly when no primary
    weak-reason exists — mirroring the reference's empty-weak_reasons
    branch.

    Scale: per-order lot aggregation (shared via
    ``canonical_legs_frame``), then ONE per-ticker pass: the trimmed
    tails' win and loss ranks are running counts in one
    ticker-partitioned window layer, and one groupBy folds the totals
    and both tails with CASE-guarded aggregates, so every step rides
    the one ticker exchange and no join is planned. No UDF, no
    collect."""
    d = "{!r}D".format  # a bare 0.0 is DECIMAL in Spark SQL
    tau, trim, sent = d(_ELG_TAU), d(_ELG_TRIM), d(_ELG_SENT)
    trades = (
        canonical_legs_frame(spark, sf_dir)
        .selectExpr(
            "ticker",
            "orderkey",
            "round(cnet - onet, 6) AS pnl",
            "CASE WHEN ctax < 0.015D THEN 'STOP_LOSS'"
            " WHEN ctax < 0.045D THEN 'TIME_EXIT'"
            " WHEN ctax < 0.075D THEN 'TAKE_PROFIT'"
            " ELSE 'OTHER' END AS exit_reason",
            "abs(onet / oq) * cq AS capital",
        )
        .selectExpr(
            "ticker", "orderkey", "pnl", "exit_reason",
            "CASE WHEN capital > 1e-9D THEN pnl / capital END AS r",
        )
    )
    # rk_w / rk_l: a win's (loss's) rank among the ticker's wins
    # (losses) by r DESC (ASC), orderkey — the running count of wins
    # (losses) up to the row
    run = (
        "PARTITION BY ticker ORDER BY r {}, orderkey"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )
    ranked = trades.selectExpr(
        "*",
        f"sum(CAST(r < 0 AS BIGINT)) OVER ({run.format('ASC')}) AS rk_l",
        f"sum(CAST(r > 0 AS BIGINT)) OVER ({run.format('DESC')}) AS rk_w",
        "sum(CAST(r > 0 AS BIGINT)) OVER (PARTITION BY ticker) AS nw",
        "sum(CAST(r < 0 AS BIGINT)) OVER (PARTITION BY ticker) AS nl",
    )
    per = ranked.groupBy("ticker").agg(
        *(
            F.expr(e)
            for e in (
                "count(1) AS n_trades",
                "avg(CASE WHEN pnl > 0 THEN 1.0D ELSE 0.0D END) AS win_rate",
                "sum(CASE WHEN pnl > 0 THEN pnl ELSE 0.0D END) AS gross_win",
                "sum(CASE WHEN pnl <= 0 THEN abs(pnl) ELSE 0.0D END)"
                " AS gross_loss",
                "round(sum(pnl), 2) AS total_pnl",
                "avg(CASE WHEN exit_reason = 'TAKE_PROFIT' THEN 1.0D"
                " ELSE 0.0D END) AS tp_freq",
                "count(r) AS n_ret",
                f"sum(greatest(r - {tau}, 0.0D)) AS o_gain",
                f"sum(greatest({tau} - r, 0.0D)) AS o_loss",
                # the win/loss aggregates are NULL for a ticker without
                # wins/losses, as a LEFT JOIN of per-side folds gives
                "max(CASE WHEN r > 0 THEN nw END) AS n_wins",
                "sum(CASE WHEN r > 0 THEN r END) AS wsum",
                "avg(CASE WHEN r > 0 THEN r END) AS avg_win",
                "max(CASE WHEN r > 0 THEN r END) AS max_win",
                f"sum(CASE WHEN r > 0 AND rk_w > floor(nw * {trim})"
                " THEN r END) AS trim_win_sum",
                f"sum(CASE WHEN r > 0 THEN CAST(rk_w > floor(nw * {trim})"
                " AS BIGINT) END) AS trim_win_n",
                "max(CASE WHEN r < 0 THEN nl END) AS n_losses",
                "avg(CASE WHEN r < 0 THEN -r END) AS avg_loss",
                f"sum(CASE WHEN r < 0 AND rk_l > floor(nl * {trim})"
                " THEN -r END) AS trim_loss_sum",
                f"sum(CASE WHEN r < 0 THEN CAST(rk_l > floor(nl * {trim})"
                " AS BIGINT) END) AS trim_loss_n",
            )
        )
    )
    metrics = per.selectExpr(
        "ticker", "n_trades", "win_rate", "total_pnl", "tp_freq",
        "CASE WHEN gross_loss > 1e-9D THEN least(gross_win / gross_loss, 99.0D)"
        " WHEN gross_win > 0 THEN 99.0D ELSE 0.0D END AS profit_factor",
        f"CASE WHEN n_ret < 10 THEN 0.0D WHEN o_loss = 0.0D THEN {sent}"
        " ELSE o_gain / o_loss END AS omega",
        "coalesce(n_wins, 0) AS n_wins",
        "coalesce(n_losses, 0) AS n_losses",
        "round(CASE WHEN coalesce(n_losses, 0) = 0 OR avg_loss IS NULL"
        f" THEN CASE WHEN coalesce(n_wins, 0) > 0 THEN {sent} ELSE 0.0D END"
        " ELSE coalesce(avg_win, 0.0D) / greatest(avg_loss, 1e-12D) END, 6)"
        " AS payoff_raw",
        "round(CASE WHEN coalesce(trim_loss_n, 0) = 0"
        f" THEN CASE WHEN coalesce(trim_win_n, 0) > 0 THEN {sent} ELSE 0.0D END"
        " WHEN coalesce(trim_win_n, 0) = 0 THEN 0.0D"
        " ELSE (trim_win_sum / greatest(trim_win_n, 1))"
        " / greatest(trim_loss_sum / greatest(trim_loss_n, 1), 1e-12D) END, 6)"
        " AS payoff_trimmed",
        "round(CASE WHEN coalesce(n_wins, 0) > 0"
        " THEN max_win / greatest(wsum, 1e-12D) ELSE 0.0D END, 6) AS wc",
    )
    omega_ok = f"omega >= {d(_ELG_OMEGA_FLOOR)}"
    payoff_ok = f"payoff_eff >= {d(_ELG_PAYOFF_FLOOR)}"
    tp_ok = f"tp_freq >= {d(_ELG_TP_FLOOR)}"
    cls = metrics.selectExpr(
        "ticker", "n_trades", "win_rate", "profit_factor", "total_pnl",
        "tp_freq", "omega",
        f"CASE WHEN n_wins >= {_ELG_MIN_WINS} AND n_losses >= {_ELG_MIN_LOSSES}"
        f" AND wc <= {d(_ELG_MAX_WC)} THEN least(payoff_raw, payoff_trimmed)"
        " ELSE 0.0D END AS payoff_eff",
    ).selectExpr(
        "*",
        f"n_trades >= {_ELG_HEALTHY_N} AND {omega_ok} AND {payoff_ok}"
        f" AND {tp_ok} AS healthy",
        f"n_trades >= {_ELG_WEAK_N} AND ({omega_ok} OR {payoff_ok} OR {tp_ok})"
        " AS weak",
    )
    return cls.selectExpr(
        "ticker",
        "n_trades",
        "round(win_rate, 6) AS win_rate",
        "round(profit_factor, 6) AS profit_factor",
        "total_pnl",
        "round(omega, 6) AS omega_ratio",
        "round(payoff_eff, 6) AS payoff_asymmetry_effective",
        "round(tp_freq, 6) AS take_profit_frequency",
        "CASE WHEN ticker = 'T7' THEN 'LAB_ONLY' WHEN healthy THEN 'HEALTHY'"
        " WHEN weak THEN 'WEAK' ELSE 'LAB_ONLY' END AS status",
        "CASE WHEN ticker = 'T7' THEN 'explicit_lab_only_override'"
        " WHEN healthy THEN 'meets_take_profit_policy'"
        " WHEN weak THEN concat_ws(','"
        f", CASE WHEN omega < {d(_ELG_OMEGA_FLOOR)} THEN 'omega_below_hurdle' END"
        f", CASE WHEN payoff_eff < {d(_ELG_PAYOFF_FLOOR)}"
        " THEN 'payoff_below_target' END"
        f", CASE WHEN tp_freq < {d(_ELG_TP_FLOOR)}"
        " THEN 'take_profit_frequency_below_floor' END"
        ", 'sufficient_weak_evidence')"
        " ELSE coalesce(nullif(concat_ws(','"
        f", CASE WHEN n_trades < {_ELG_HEALTHY_N}"
        " THEN 'insufficient_trade_count' END"
        f", CASE WHEN win_rate < {d(_ELG_WR_FLOOR)}"
        " THEN 'diagnostic_win_rate_below_r3_floor' END"
        f", CASE WHEN profit_factor < {d(_ELG_PF_FLOOR)}"
        " THEN 'diagnostic_profit_factor_below_r3_floor' END"
        f", CASE WHEN {omega_ok} AND {payoff_ok} AND {tp_ok}"
        " THEN 'primary_metrics_below_floor' END), ''),"
        " 'manual_research_only') END AS reasons",
    )


# ---------------------------------------------------------------------------
# Time-weighted capital utilization
# ---------------------------------------------------------------------------

# Reference `scripts/compute_capital_utilization.py:42-182`: the pinned
# core formula deployment = notional_days / (capital * total_days) over
# production closed round-trips, the formula-audit intermediates, ROI/edge
# metrics and the two throughput projection scenarios (`_project`,
# `:157-179`: identical per-trade edge scaled to a target trades/day).
# The confirmed capital base plays the portfolio_cash_state row.
_CU_CAPITAL = 1_000_000.0
_CU_SCN_A = 0.95
_CU_SCN_B = 1.40


@query(
    "capital_utilization_report",
    oracle=f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             MAX(l.l_shipdate) AS cship
      FROM lineitem l
      JOIN mx ON mx.l_orderkey = l.l_orderkey AND l.l_linenumber = mx.maxline
      GROUP BY l.l_orderkey
    ),
    opens AS (
      SELECT l_orderkey, SUM(l_quantity) AS oq,
             SUM(l_extendedprice * (1 - l_discount)) AS onet,
             MIN(l_shipdate) AS oship
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    trips AS (
      SELECT c.l_orderkey,
             o2.onet AS notional,
             ROUND(c.cnet - o2.onet, 6) AS pnl,
             GREATEST(DATEDIFF('day', o2.oship, c.cship), 0) AS hold_days,
             CAST(o2.oship AS DATE) AS open_d,
             CAST(c.cship AS DATE) AS close_d
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_trips,
             SUM(notional * hold_days) AS notional_days,
             AVG(notional) AS avg_notional,
             AVG(CAST(hold_days AS DOUBLE)) AS avg_hold_days,
             SUM(pnl) AS total_pnl,
             SUM(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS n_wins,
             MIN(open_d) AS first_open, MAX(close_d) AS last_close
      FROM trips
    ),
    k AS (
      SELECT *,
             GREATEST(DATEDIFF('day', first_open, last_close), 1)
               AS total_days,
             notional_days
               / GREATEST(DATEDIFF('day', first_open, last_close), 1)
               AS twc_per_day
      FROM agg
    )
    SELECT n_trips,
           total_days,
           CAST(first_open AS VARCHAR) AS first_open,
           CAST(last_close AS VARCHAR) AS last_close,
           ROUND(notional_days, 2) AS notional_days,
           ROUND(twc_per_day, 2) AS twc_per_day,
           ROUND(twc_per_day / {_CU_CAPITAL}, 6) AS deployment_fraction,
           ROUND(twc_per_day / {_CU_CAPITAL} * 100, 2) AS deployment_pct,
           ROUND(avg_notional, 2) AS avg_notional_per_trade,
           ROUND(avg_hold_days, 2) AS avg_hold_days,
           ROUND(CASE WHEN twc_per_day > 0
                      THEN avg_notional / twc_per_day END, 2)
             AS avg_notional_overstatement_factor,
           ROUND(total_pnl, 2) AS total_pnl,
           ROUND(CAST(n_wins AS DOUBLE) / n_trips, 4) AS win_rate,
           ROUND(total_pnl / {_CU_CAPITAL} * 100, 4) AS roi_cum_pct,
           ROUND(total_pnl / {_CU_CAPITAL} * 365.0 / total_days * 100, 2)
             AS roi_ann_pct,
           ROUND(CAST(n_trips AS DOUBLE) / total_days, 3) AS trades_per_day,
           ROUND({_CU_SCN_A} / (CAST(n_trips AS DOUBLE) / total_days), 2)
             AS scn_partial_scale_factor,
           ROUND(total_pnl * ({_CU_SCN_A}
                 / (CAST(n_trips AS DOUBLE) / total_days)), 2)
             AS scn_partial_proj_pnl,
           ROUND(total_pnl * ({_CU_SCN_A}
                 / (CAST(n_trips AS DOUBLE) / total_days))
                 / {_CU_CAPITAL} * 365.0 / total_days * 100, 1)
             AS scn_partial_roi_ann_pct,
           ROUND({_CU_SCN_B} / (CAST(n_trips AS DOUBLE) / total_days), 2)
             AS scn_target_scale_factor,
           ROUND(total_pnl * ({_CU_SCN_B}
                 / (CAST(n_trips AS DOUBLE) / total_days)), 2)
             AS scn_target_proj_pnl,
           ROUND(total_pnl * ({_CU_SCN_B}
                 / (CAST(n_trips AS DOUBLE) / total_days))
                 / {_CU_CAPITAL} * 365.0 / total_days * 100, 1)
             AS scn_target_roi_ann_pct
    FROM k
    """,
)
def capital_utilization_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted capital utilization — reference
    `scripts/compute_capital_utilization.py:42-182`: the pinned core
    formula (deployment = notional_days / (capital x total_days)), the
    formula-audit intermediates (avg notional, overstatement factor),
    the edge metrics (win rate, cumulative and x365-annualized ROI,
    trades/day) and both throughput scenarios (`_project`: identical
    per-trade edge scaled to 0.95 and 1.40 trades/day). The confirmed
    capital base is the engine's pinned 1e6 (the reference reads
    portfolio_cash_state). Single bounded fleet aggregation."""
    trips = (
        _closed_trades(spark, sf_dir)
        .select(
            F.col("onet").alias("notional"),
            F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
            F.greatest(
                F.datediff(F.to_date("cship"), F.to_date("oship")), F.lit(0)
            ).alias("hold_days"),
            F.to_date("oship").alias("open_d"),
            F.to_date("cship").alias("close_d"),
        )
    )
    agg = trips.agg(
        F.count(F.lit(1)).alias("n_trips"),
        F.sum(F.col("notional") * F.col("hold_days")).alias("notional_days"),
        F.avg("notional").alias("avg_notional"),
        F.avg(F.col("hold_days").cast("double")).alias("avg_hold_days"),
        F.sum("pnl").alias("total_pnl"),
        F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0)).alias("n_wins"),
        F.min("open_d").alias("first_open"),
        F.max("close_d").alias("last_close"),
    )
    k = agg.select(
        "*",
        F.greatest(
            F.datediff("last_close", "first_open"), F.lit(1)
        ).alias("total_days"),
    ).withColumn("twc_per_day", F.col("notional_days") / F.col("total_days"))
    tpd = F.col("n_trips").cast("double") / F.col("total_days")

    def scenario(target):
        scale = target / tpd
        proj = F.col("total_pnl") * scale
        roi = proj / _CU_CAPITAL * 365.0 / F.col("total_days") * 100
        return scale, proj, roi

    sa, pa, ra = scenario(F.lit(_CU_SCN_A))
    sb, pb, rb = scenario(F.lit(_CU_SCN_B))
    return k.select(
        "n_trips",
        "total_days",
        F.col("first_open").cast("string").alias("first_open"),
        F.col("last_close").cast("string").alias("last_close"),
        F.round("notional_days", 2).alias("notional_days"),
        F.round("twc_per_day", 2).alias("twc_per_day"),
        F.round(F.col("twc_per_day") / _CU_CAPITAL, 6).alias(
            "deployment_fraction"
        ),
        F.round(F.col("twc_per_day") / _CU_CAPITAL * 100, 2).alias(
            "deployment_pct"
        ),
        F.round("avg_notional", 2).alias("avg_notional_per_trade"),
        F.round("avg_hold_days", 2).alias("avg_hold_days"),
        F.round(
            F.when(
                F.col("twc_per_day") > 0,
                F.col("avg_notional") / F.col("twc_per_day"),
            ),
            2,
        ).alias("avg_notional_overstatement_factor"),
        F.round("total_pnl", 2).alias("total_pnl"),
        F.round(F.col("n_wins").cast("double") / F.col("n_trips"), 4).alias(
            "win_rate"
        ),
        F.round(F.col("total_pnl") / _CU_CAPITAL * 100, 4).alias(
            "roi_cum_pct"
        ),
        F.round(
            F.col("total_pnl") / _CU_CAPITAL * 365.0 / F.col("total_days") * 100,
            2,
        ).alias("roi_ann_pct"),
        F.round(tpd, 3).alias("trades_per_day"),
        F.round(sa, 2).alias("scn_partial_scale_factor"),
        F.round(pa, 2).alias("scn_partial_proj_pnl"),
        F.round(ra, 1).alias("scn_partial_roi_ann_pct"),
        F.round(sb, 2).alias("scn_target_scale_factor"),
        F.round(pb, 2).alias("scn_target_proj_pnl"),
        F.round(rb, 1).alias("scn_target_roi_ann_pct"),
    )


# ---------------------------------------------------------------------------
# Sleeve summary + promotion plan
# ---------------------------------------------------------------------------

# Reference `scripts/summarize_sleeves.py:44-223` (per-(sleeve, ticker)
# PnL rollup over production_closed_trades with the barbell-bucket
# classifier and the min-trades floor) and
# `scripts/evaluate_sleeve_promotions.py:26-130` (`_decide_move`: the
# PROMOTE / DEMOTE / HOLD ladder — speculative promotes on 0.55 WR +
# 1.2 PF, core demotes on 0.45 WR or 0.9 PF, 10-trade evidence floor,
# safe has no move rule). Ticker = the 25-way customer sleeve; the
# barbell bucket is its deterministic range (0-7 safe, 8-16 core,
# 17-24 speculative — barbell.yml's symbol lists). Infinite profit
# factors carry the reference family's 1e6 sentinel.
_SLV_MIN_TRADES = 5
_SLV_PROMO_MIN_TRADES = 10
_SLV_PROMOTE_WR = 0.55
_SLV_PROMOTE_PF = 1.2
_SLV_DEMOTE_WR = 0.45
_SLV_DEMOTE_PF = 0.9

_SLV_AGG_SQL = f"""
    sleeve_rows AS (
      SELECT CASE WHEN CAST(SUBSTR(ticker, 2) AS INTEGER) < 8 THEN 'safe'
                  WHEN CAST(SUBSTR(ticker, 2) AS INTEGER) < 17 THEN 'core'
                  ELSE 'speculative' END AS sleeve,
             ticker, pnl
      FROM trades
    ),
    slv AS (
      SELECT sleeve, ticker,
             CAST(COUNT(*) AS BIGINT) AS trades,
             CAST(SUM(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS wins,
             CAST(SUM(CASE WHEN pnl < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS losses,
             CAST(SUM(CAST(pnl AS DECIMAL(28,6))) AS DOUBLE)
               AS total_profit,
             CAST(SUM(CASE WHEN pnl > 0 THEN CAST(pnl AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE) AS gross_profit,
             CAST(SUM(CASE WHEN pnl < 0 THEN CAST(ABS(pnl) AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE) AS gross_loss
      FROM sleeve_rows GROUP BY sleeve, ticker
    ),
    slv2 AS (
      SELECT *,
             CAST(wins AS DOUBLE) / trades AS win_rate,
             CASE WHEN gross_loss > 0 THEN gross_profit / gross_loss
                  WHEN gross_profit > 0 THEN {_ELG_SENT!r}
                  ELSE 0.0 END AS profit_factor
      FROM slv WHERE trades >= {_SLV_MIN_TRADES}
    )
"""


@query(
    "sleeve_summary",
    oracle=f"""
    {_ELG_SQL.replace('      cls AS', '      cls_unused AS')},
    {_SLV_AGG_SQL}
    SELECT sleeve, ticker, trades, wins, losses,
           ROUND(win_rate, 6) AS win_rate,
           ROUND(total_profit, 6) AS total_profit,
           ROUND(profit_factor, 6) AS profit_factor,
           ROUND(gross_profit, 6) AS gross_profit,
           ROUND(gross_loss, 6) AS gross_loss
    FROM slv2
    """,
)
@shared_small_frame
def sleeve_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(sleeve, ticker) PnL summary — reference
    `scripts/summarize_sleeves.py:150-223`: trades/wins/losses, win
    rate, total profit, gross profit/loss and the profit factor
    (zero-loss -> the 1e6 sentinel standing in for the reference's
    float('inf')), grouped under the barbell-bucket sleeve classifier
    and gated by the 5-trade reporting floor.

    Scale: the shared lot aggregation + one (sleeve, ticker) groupBy."""
    tr = _sleeve_trades_frame(spark, sf_dir)
    slv = (
        tr.groupBy("sleeve", "ticker")
        .agg(
            F.count(F.lit(1)).alias("trades"),
            F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("wins"),
            F.sum(F.when(F.col("pnl") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("losses"),
            F.sum(F.col("pnl").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_profit"),
            F.sum(
                F.when(
                    F.col("pnl") > 0, F.col("pnl").cast("decimal(28,6)")
                ).otherwise(F.lit(0).cast("decimal(28,6)"))
            )
            .cast("double")
            .alias("gross_profit"),
            F.sum(
                F.when(
                    F.col("pnl") < 0, F.abs(F.col("pnl")).cast("decimal(28,6)")
                ).otherwise(F.lit(0).cast("decimal(28,6)"))
            )
            .cast("double")
            .alias("gross_loss"),
        )
        .filter(F.col("trades") >= _SLV_MIN_TRADES)
    )
    pf = (
        F.when(F.col("gross_loss") > 0, F.col("gross_profit") / F.col("gross_loss"))
        .when(F.col("gross_profit") > 0, _ELG_SENT)
        .otherwise(0.0)
    )
    return slv.select(
        "sleeve",
        "ticker",
        "trades",
        "wins",
        "losses",
        r6(F.col("wins").cast("double") / F.col("trades")).alias("win_rate"),
        r6(F.col("total_profit")).alias("total_profit"),
        r6(pf).alias("profit_factor"),
        r6(F.col("gross_profit")).alias("gross_profit"),
        r6(F.col("gross_loss")).alias("gross_loss"),
    )


@session_frame_cache
def _sleeve_trades_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production round-trips tagged with (sleeve, ticker) — a
    projection of the family-shared ``canonical_legs_frame``."""
    sid = F.col("sid")
    return canonical_legs_frame(spark, sf_dir).select(
        F.when(sid < 8, "safe")
        .when(sid < 17, "core")
        .otherwise("speculative")
        .alias("sleeve"),
        "ticker",
        F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
    )


@query(
    "sleeve_promotion_plan",
    oracle=f"""
    {_ELG_SQL.replace('      cls AS', '      cls_unused AS')},
    {_SLV_AGG_SQL}
    SELECT ticker, sleeve AS from_bucket,
           CASE WHEN trades < {_SLV_PROMO_MIN_TRADES} THEN sleeve
                WHEN sleeve = 'speculative'
                     AND win_rate >= {_SLV_PROMOTE_WR}
                     AND profit_factor >= {_SLV_PROMOTE_PF} THEN 'core'
                WHEN sleeve = 'core'
                     AND (win_rate <= {_SLV_DEMOTE_WR}
                          OR profit_factor <= {_SLV_DEMOTE_PF})
                THEN 'speculative'
                ELSE sleeve END AS to_bucket,
           CASE WHEN trades < {_SLV_PROMO_MIN_TRADES} THEN 'HOLD'
                WHEN sleeve = 'speculative'
                     AND win_rate >= {_SLV_PROMOTE_WR}
                     AND profit_factor >= {_SLV_PROMOTE_PF} THEN 'PROMOTE'
                WHEN sleeve = 'core'
                     AND (win_rate <= {_SLV_DEMOTE_WR}
                          OR profit_factor <= {_SLV_DEMOTE_PF})
                THEN 'DEMOTE'
                ELSE 'HOLD' END AS action,
           CASE WHEN trades < {_SLV_PROMO_MIN_TRADES}
                THEN 'hold_insufficient_trades'
                WHEN sleeve = 'speculative'
                     AND win_rate >= {_SLV_PROMOTE_WR}
                     AND profit_factor >= {_SLV_PROMOTE_PF}
                THEN 'promote_evidence'
                WHEN sleeve = 'speculative' THEN 'hold_below_promote_floor'
                WHEN sleeve = 'core'
                     AND (win_rate <= {_SLV_DEMOTE_WR}
                          OR profit_factor <= {_SLV_DEMOTE_PF})
                THEN 'demote_evidence'
                WHEN sleeve = 'core' THEN 'hold_above_demote_floor'
                ELSE 'hold_unassigned_bucket' END AS reason,
           ROUND(win_rate, 6) AS win_rate,
           ROUND(profit_factor, 6) AS profit_factor,
           trades AS total_trades
    FROM slv2
    """,
)
@shared_small_frame
def sleeve_promotion_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sleeve promotion/demotion plan — reference
    `scripts/evaluate_sleeve_promotions.py:26-130` (`_decide_move` over
    the sleeve summary): 10-trade evidence floor, speculative PROMOTEs
    to core on 0.55 win rate + 1.2 profit factor, core DEMOTEs to
    speculative on 0.45 win rate or 0.9 profit factor, the safe bucket
    has no move rule (the reference's unassigned-bucket hold).

    Scale: the sleeve summary plus pure column logic."""
    slv = sleeve_summary(spark, sf_dir)
    promote = (
        (F.col("sleeve") == "speculative")
        & (F.col("win_rate") >= _SLV_PROMOTE_WR)
        & (F.col("profit_factor") >= _SLV_PROMOTE_PF)
    )
    demote = (F.col("sleeve") == "core") & (
        (F.col("win_rate") <= _SLV_DEMOTE_WR)
        | (F.col("profit_factor") <= _SLV_DEMOTE_PF)
    )
    under = F.col("trades") < _SLV_PROMO_MIN_TRADES
    return slv.select(
        "ticker",
        F.col("sleeve").alias("from_bucket"),
        F.when(under, F.col("sleeve"))
        .when(promote, "core")
        .when(demote, "speculative")
        .otherwise(F.col("sleeve"))
        .alias("to_bucket"),
        F.when(under, "HOLD")
        .when(promote, "PROMOTE")
        .when(demote, "DEMOTE")
        .otherwise("HOLD")
        .alias("action"),
        F.when(under, "hold_insufficient_trades")
        .when(promote, "promote_evidence")
        .when(F.col("sleeve") == "speculative", "hold_below_promote_floor")
        .when(demote, "demote_evidence")
        .when(F.col("sleeve") == "core", "hold_above_demote_floor")
        .otherwise("hold_unassigned_bucket")
        .alias("reason"),
        F.col("win_rate"),
        F.col("profit_factor"),
        F.col("trades").alias("total_trades"),
    )


# ---------------------------------------------------------------------------
# Context-quality report (regime x confidence-bin trade quality)
# ---------------------------------------------------------------------------

# Reference `scripts/compute_context_quality.py:41-285`: per-regime,
# per-confidence-bin and per-(ticker, regime) trade-quality summaries
# (n, win rate, 99-capped profit factor `_safe_pf`, total PnL), the
# no-confidence / out-of-range censuses, and the advisory extremes
# (worst/best regime and worst confidence bin among groups with >= 3
# trades, UNKNOWN excluded; ties resolve to the lexicographically
# first group — the reference's sorted-iteration min/max). The regime
# channel is the order priority; the confidence channel is the
# portable-md5 uniform (NULL slice plays missing confidence, the >1
# slice plays out-of-range values).
_CTX_MIN_N = 3


@query(
    "context_quality_report",
    oracle=f"""
    {_ELG_SQL.replace('      cls AS', '      cls_unused AS')},
    ctx AS (
      SELECT t.ticker, t.pnl,
             CASE o.o_orderpriority
                  WHEN '1-URGENT' THEN 'VOLATILE'
                  WHEN '2-HIGH' THEN 'TRENDING'
                  WHEN '3-MEDIUM' THEN 'RANGING'
                  WHEN '5-LOW' THEN 'RANGING'
                  ELSE 'UNKNOWN' END AS regime,
             CASE WHEN u < 0.08 THEN NULL
                  WHEN u > 0.95 THEN 1.0 + u
                  ELSE 0.5 + u / 2 END AS confidence
      FROM (
        SELECT *,
               ('0x' || SUBSTR(MD5('conf|' || CAST(orderkey AS VARCHAR)),
                               1, 6))::BIGINT / 16777216.0 AS u
        FROM trades
      ) t
      JOIN orders o ON o.o_orderkey = t.orderkey
    ),
    binned AS (
      SELECT *,
             CASE WHEN confidence IS NULL THEN NULL
                  WHEN confidence < 0.5 OR confidence > 1.0 THEN NULL
                  WHEN confidence < 0.6 THEN '0.50-0.60'
                  WHEN confidence < 0.7 THEN '0.60-0.70'
                  WHEN confidence < 0.8 THEN '0.70-0.80'
                  WHEN confidence < 0.9 THEN '0.80-0.90'
                  ELSE '0.90-1.00' END AS conf_bin
      FROM ctx
    ),
    summ AS (
      SELECT dimension, key1, key2,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END), 4)
               AS win_rate,
             ROUND(LEAST(CASE WHEN CAST(SUM(CASE WHEN pnl <= 0
                                                 THEN CAST(ABS(pnl) AS DECIMAL(28,6))
                                                 ELSE 0 END) AS DOUBLE) < 1e-9
                              THEN CASE WHEN SUM(CASE WHEN pnl > 0 THEN pnl
                                                      ELSE 0 END) > 0
                                        THEN 99.0 ELSE 0.0 END
                              ELSE CAST(SUM(CASE WHEN pnl > 0
                                            THEN CAST(pnl AS DECIMAL(28,6))
                                            ELSE 0 END) AS DOUBLE)
                                   / CAST(SUM(CASE WHEN pnl <= 0
                                              THEN CAST(ABS(pnl) AS DECIMAL(28,6))
                                              ELSE 0 END) AS DOUBLE)
                              END, 99.0), 4)
               AS profit_factor,
             ROUND(CAST(SUM(CAST(pnl AS DECIMAL(28,6))) AS DOUBLE), 2)
               AS total_pnl
      FROM (
        SELECT 'regime' AS dimension, regime AS key1,
               CAST(NULL AS VARCHAR) AS key2, pnl FROM binned
        UNION ALL
        SELECT 'conf_bin', conf_bin, NULL, pnl FROM binned
        WHERE conf_bin IS NOT NULL
        UNION ALL
        SELECT 'ticker_regime', ticker, regime, pnl FROM binned
      )
      GROUP BY dimension, key1, key2
    ),
    censuses AS (
      SELECT 'census' AS dimension, 'no_confidence' AS key1,
             CAST(NULL AS VARCHAR) AS key2,
             CAST(SUM(CASE WHEN confidence IS NULL
                                OR confidence < 0.5 OR confidence > 1.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n,
             CAST(NULL AS DOUBLE) AS win_rate,
             CAST(NULL AS DOUBLE) AS profit_factor,
             CAST(NULL AS DOUBLE) AS total_pnl
      FROM binned
      UNION ALL
      SELECT 'census', 'out_of_range', NULL,
             CAST(SUM(CASE WHEN confidence IS NOT NULL
                                AND (confidence < 0.0 OR confidence > 1.0)
                           THEN 1 ELSE 0 END) AS BIGINT),
             NULL, NULL, NULL
      FROM binned
      UNION ALL
      SELECT 'census', 'total_trades', NULL,
             CAST(COUNT(*) AS BIGINT), NULL, NULL, NULL
      FROM binned
    ),
    advisory AS (
      SELECT 'advisory' AS dimension, 'worst_regime' AS key1, key1 AS key2,
             n, win_rate, profit_factor, total_pnl
      FROM summ
      WHERE dimension = 'regime' AND key1 <> 'UNKNOWN'
            AND n >= {_CTX_MIN_N}
      ORDER BY win_rate ASC, key1 ASC LIMIT 1
    ),
    advisory2 AS (
      SELECT 'advisory' AS dimension, 'best_regime' AS key1, key1 AS key2,
             n, win_rate, profit_factor, total_pnl
      FROM summ
      WHERE dimension = 'regime' AND key1 <> 'UNKNOWN'
            AND n >= {_CTX_MIN_N}
      ORDER BY win_rate DESC, key1 ASC LIMIT 1
    ),
    advisory3 AS (
      SELECT 'advisory' AS dimension, 'worst_conf_bin' AS key1,
             key1 AS key2, n, win_rate, profit_factor, total_pnl
      FROM summ
      WHERE dimension = 'conf_bin' AND n >= {_CTX_MIN_N}
      ORDER BY win_rate ASC, key1 ASC LIMIT 1
    )
    SELECT * FROM summ
    UNION ALL SELECT * FROM censuses
    UNION ALL SELECT * FROM advisory
    UNION ALL SELECT * FROM advisory2
    UNION ALL SELECT * FROM advisory3
    """,
)
@shared_small_frame
def context_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-conditional trade quality — reference
    `scripts/compute_context_quality.py:52-285`: quality summaries per
    regime, per confidence bin (the 0.50-1.00 half-open ladder) and per
    (ticker, regime); the missing / out-of-range confidence censuses;
    and the advisory extreme rows (worst/best regime, worst bin, >= 3
    trades, UNKNOWN excluded, lexicographic tie-break mirroring the
    reference's sorted-iteration argmin/argmax).

    Scale: bounded-cardinality groupBys over the trade frame; advisory
    rows are top-1 selections over the tiny summary frame."""
    from ..functions.scalars import hash_unit_interval

    u = hash_unit_interval(F.lit("conf"), F.col("orderkey"))
    ctx = canonical_legs_frame(spark, sf_dir).select(
        "ticker",
        F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
        F.when(F.col("o_orderpriority") == "1-URGENT", "VOLATILE")
        .when(F.col("o_orderpriority") == "2-HIGH", "TRENDING")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "RANGING")
        .when(F.col("o_orderpriority") == "5-LOW", "RANGING")
        .otherwise("UNKNOWN")
        .alias("regime"),
        F.when(u < 0.08, F.lit(None).cast("double"))
        .when(u > 0.95, 1.0 + u)
        .otherwise(0.5 + u / 2)
        .alias("confidence"),
    )
    conf = F.col("confidence")
    # eight downstream consumers (3-way stack + censuses + 3 advisory
    # top-1s) would each re-run the lot join; materialize the bounded
    # per-trade frame once
    binned = ctx.withColumn(
        "conf_bin",
        F.when(conf.isNull() | (conf < 0.5) | (conf > 1.0), F.lit(None))
        .when(conf < 0.6, "0.50-0.60")
        .when(conf < 0.7, "0.60-0.70")
        .when(conf < 0.8, "0.70-0.80")
        .when(conf < 0.9, "0.80-0.90")
        .otherwise("0.90-1.00"),
    ).localCheckpoint()
    stacked = (
        binned.select(
            F.lit("regime").alias("dimension"),
            F.col("regime").alias("key1"),
            F.lit(None).cast("string").alias("key2"),
            "pnl",
        )
        .unionByName(
            binned.filter(F.col("conf_bin").isNotNull()).select(
                F.lit("conf_bin").alias("dimension"),
                F.col("conf_bin").alias("key1"),
                F.lit(None).cast("string").alias("key2"),
                "pnl",
            )
        )
        .unionByName(
            binned.select(
                F.lit("ticker_regime").alias("dimension"),
                F.col("ticker").alias("key1"),
                F.col("regime").alias("key2"),
                "pnl",
            )
        )
    )
    dec = "decimal(28,6)"
    gw = F.sum(
        F.when(F.col("pnl") > 0, F.col("pnl").cast(dec)).otherwise(
            F.lit(0).cast(dec)
        )
    ).cast("double")
    gl = F.sum(
        F.when(F.col("pnl") <= 0, F.abs(F.col("pnl")).cast(dec)).otherwise(
            F.lit(0).cast(dec)
        )
    ).cast("double")
    pf = F.least(
        F.when(gl < 1e-9, F.when(gw > 0, 99.0).otherwise(0.0)).otherwise(
            gw / gl
        ),
        F.lit(99.0),
    )
    summarize = stacked.groupBy("dimension", "key1", "key2").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)), 4).alias(
            "win_rate"
        ),
        F.round(pf, 4).alias("profit_factor"),
        F.round(
            F.sum(F.col("pnl").cast(dec)).cast("double"), 2
        ).alias("total_pnl"),
    )
    no_conf = conf.isNull() | (conf < 0.5) | (conf > 1.0)
    oor = conf.isNotNull() & ((conf < 0.0) | (conf > 1.0))
    censuses = binned.agg(
        F.sum(no_conf.cast("int")).cast("bigint").alias("n_no_conf"),
        F.sum(oor.cast("int")).cast("bigint").alias("n_oor"),
        F.count(F.lit(1)).alias("n_total"),
    )

    def census_row(key, col):
        return censuses.select(
            F.lit("census").alias("dimension"),
            F.lit(key).alias("key1"),
            F.lit(None).cast("string").alias("key2"),
            F.col(col).alias("n"),
            F.lit(None).cast("double").alias("win_rate"),
            F.lit(None).cast("double").alias("profit_factor"),
            F.lit(None).cast("double").alias("total_pnl"),
        )

    def advisory_row(key, dim, ascending):
        base = summarize.filter(
            (F.col("dimension") == dim)
            & (F.col("n") >= _CTX_MIN_N)
            & (F.col("key1") != "UNKNOWN")
        )
        order = (
            [F.col("win_rate").asc(), F.col("key1").asc()]
            if ascending
            else [F.col("win_rate").desc(), F.col("key1").asc()]
        )
        return base.orderBy(*order).limit(1).select(
            F.lit("advisory").alias("dimension"),
            F.lit(key).alias("key1"),
            F.col("key1").alias("key2"),
            "n",
            "win_rate",
            "profit_factor",
            "total_pnl",
        )

    return (
        summarize.unionByName(census_row("no_confidence", "n_no_conf"))
        .unionByName(census_row("out_of_range", "n_oor"))
        .unionByName(census_row("total_trades", "n_total"))
        .unionByName(advisory_row("worst_regime", "regime", True))
        .unionByName(advisory_row("best_regime", "regime", False))
        .unionByName(advisory_row("worst_conf_bin", "conf_bin", True))
    )


# ---------------------------------------------------------------------------
# Profitability-proof validation
# ---------------------------------------------------------------------------

# Reference `scripts/validate_profitability_proof.py:34-390`: trade stats
# from the production view only (`get_trade_stats`), the data-quality
# audits over the RAW table (NULL data-source share, synthetic-opener
# census — the contamination class production_closed_trades excludes),
# lifecycle BUY/SELL balance, and the violation/warning ladder with the
# default requirements (`:36-57`: 30 closed trades, 21 trading days,
# 0.85 max win rate, 1.1 min profit factor, full data-source coverage).
_PPV_MIN_CLOSED = 30
_PPV_MIN_DAYS = 21
_PPV_MAX_WR = 0.85
_PPV_MIN_PF = 1.1


@query(
    "profitability_proof_validation",
    oracle=f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             MAX(l.l_shipdate) AS cship
      FROM lineitem l
      JOIN mx ON mx.l_orderkey = l.l_orderkey AND l.l_linenumber = mx.maxline
      GROUP BY l.l_orderkey
    ),
    opens AS (
      SELECT l_orderkey, SUM(l_quantity) AS oq,
             SUM(l_extendedprice * (1 - l_discount)) AS onet
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    trades AS (
      SELECT 'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             ROUND(c.cnet - o2.onet, 6) AS pnl,
             CAST(c.cship AS DATE) AS close_d
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_trades,
             CAST(COUNT(DISTINCT ticker) AS BIGINT) AS unique_tickers,
             CAST(COUNT(DISTINCT close_d) AS BIGINT) AS trading_days,
             CAST(SUM(CASE WHEN pnl > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS winning_trades,
             CAST(SUM(CASE WHEN pnl < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS losing_trades,
             CAST(SUM(CASE WHEN pnl IS NULL OR pnl = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS no_pnl_trades,
             CAST(SUM(CAST(pnl AS DECIMAL(28,6))) AS DOUBLE) AS total_pnl,
             CAST(SUM(CASE WHEN pnl > 0 THEN CAST(pnl AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE) AS gross_profit,
             CAST(SUM(CASE WHEN pnl < 0 THEN CAST(ABS(pnl) AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE) AS gross_loss
      FROM trades
    ),
    raw_quality AS (
      SELECT AVG(CASE WHEN l_discount = 0 AND l_tax = 0
                      THEN 1.0 ELSE 0.0 END) AS null_source_pct,
             CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linenumber = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS synthetic_count,
             CAST(SUM(CASE WHEN l_linenumber = 1 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS buy_count,
             CAST(SUM(CASE WHEN l_returnflag = 'R' AND l_linenumber > 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS sell_count
      FROM lineitem
    ),
    holds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS hold_count
      FROM orders WHERE o_orderstatus = 'P'
    ),
    g AS (
      SELECT s.*, r.null_source_pct, r.synthetic_count, r.buy_count,
             r.sell_count, h.hold_count,
             CAST(s.winning_trades AS DOUBLE)
               / NULLIF(s.winning_trades + s.losing_trades, 0) AS win_rate,
             CASE WHEN s.gross_loss > 0
                  THEN s.gross_profit / s.gross_loss END AS profit_factor,
             s.winning_trades + s.losing_trades AS closed_trades
      FROM stats s, raw_quality r, holds h
    ),
    v AS (
      SELECT *,
             CONCAT_WS(',',
               CASE WHEN total_trades = 0 THEN 'no_production_trades' END,
               CASE WHEN win_rate > {_PPV_MAX_WR}
                    THEN 'win_rate_suspicious' END,
               CASE WHEN buy_count > 0 AND sell_count = 0
                    THEN 'positions_never_closed' END,
               CASE WHEN closed_trades < {_PPV_MIN_CLOSED}
                    THEN 'insufficient_closed_trades' END) AS violations,
             CONCAT_WS(',',
               CASE WHEN null_source_pct > 0.0
                    THEN 'null_data_source_present' END,
               CASE WHEN synthetic_count > 0
                    THEN 'synthetic_contamination_flagged' END,
               CASE WHEN buy_count > sell_count * 5
                    THEN 'lifecycle_imbalance' END,
               CASE WHEN trading_days < {_PPV_MIN_DAYS}
                    THEN 'insufficient_trading_days' END,
               CASE WHEN profit_factor < {_PPV_MIN_PF}
                    THEN 'low_profit_factor' END) AS warnings
      FROM g
    )
    SELECT total_trades, unique_tickers, trading_days, winning_trades,
           losing_trades, no_pnl_trades, closed_trades,
           ROUND(total_pnl, 2) AS total_pnl,
           ROUND(win_rate, 6) AS win_rate,
           ROUND(profit_factor, 6) AS profit_factor,
           ROUND(null_source_pct, 6) AS null_data_source_pct,
           synthetic_count AS synthetic_ticker_count,
           buy_count, sell_count, hold_count,
           violations, warnings,
           CAST(violations = '' AS INTEGER) AS is_proof_valid,
           CAST(violations = '' AND total_pnl > 0 AS INTEGER)
             AS is_profitable
    FROM v
    """,
)
def profitability_proof_validation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The profitability-proof gate — reference
    `scripts/validate_profitability_proof.py:231-390`: PnL metrics from
    the production view only, data-quality audits over the RAW legs
    (missing-pricing-metadata share as the NULL data-source proxy,
    synthetic-opener census), the BUY/SELL lifecycle balance with the
    pending-order HOLD count, and the violation/warning ladder
    (suspicious >85% win rate, never-closed positions, <30 closed
    trades; warnings for coverage, contamination, 5x lifecycle skew,
    <21 trading days, <1.1 profit factor). Proof valid = zero
    violations; profitable = valid AND positive total PnL.

    Scale: one lot aggregation + two raw-table passes, all bounded
    single-row aggregates cross-joined. No UDF, no collect."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    trades = (
        _closed_trades(spark, sf_dir)
        .select(
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string")).alias(
                "ticker"
            ),
            F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
            F.to_date("cship").alias("close_d"),
        )
    )
    dec = "decimal(28,6)"
    stats = trades.agg(
        F.count(F.lit(1)).alias("total_trades"),
        F.countDistinct("ticker").alias("unique_tickers"),
        F.countDistinct("close_d").alias("trading_days"),
        F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("winning_trades"),
        F.sum(F.when(F.col("pnl") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("losing_trades"),
        F.sum(
            F.when(F.col("pnl").isNull() | (F.col("pnl") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("no_pnl_trades"),
        F.sum(F.col("pnl").cast(dec)).cast("double").alias("total_pnl"),
        F.sum(
            F.when(F.col("pnl") > 0, F.col("pnl").cast(dec)).otherwise(
                F.lit(0).cast(dec)
            )
        )
        .cast("double")
        .alias("gross_profit"),
        F.sum(
            F.when(F.col("pnl") < 0, F.abs(F.col("pnl")).cast(dec)).otherwise(
                F.lit(0).cast(dec)
            )
        )
        .cast("double")
        .alias("gross_loss"),
    )
    raw_quality = li.agg(
        F.avg(
            F.when(
                (F.col("l_discount") == 0) & (F.col("l_tax") == 0), 1.0
            ).otherwise(0.0)
        ).alias("null_source_pct"),
        F.sum(
            (
                (F.col("l_returnflag") == "R") & (F.col("l_linenumber") == 1)
            ).cast("int")
        )
        .cast("bigint")
        .alias("synthetic_count"),
        F.sum(
            (
                (F.col("l_linenumber") == 1) & (F.col("l_returnflag") != "R")
            ).cast("int")
        )
        .cast("bigint")
        .alias("buy_count"),
        F.sum(
            (
                (F.col("l_returnflag") == "R") & (F.col("l_linenumber") > 1)
            ).cast("int")
        )
        .cast("bigint")
        .alias("sell_count"),
    )
    holds = o.filter(F.col("o_orderstatus") == "P").agg(
        F.count(F.lit(1)).alias("hold_count")
    )
    g = (
        stats.crossJoin(raw_quality)
        .crossJoin(F.broadcast(holds))
        .withColumn(
            "win_rate",
            F.col("winning_trades").cast("double")
            / F.nullif(
                F.col("winning_trades") + F.col("losing_trades"), F.lit(0)
            ),
        )
        .withColumn(
            "profit_factor",
            F.when(
                F.col("gross_loss") > 0,
                F.col("gross_profit") / F.col("gross_loss"),
            ),
        )
        .withColumn(
            "closed_trades", F.col("winning_trades") + F.col("losing_trades")
        )
    )
    violations = F.concat_ws(
        ",",
        F.when(F.col("total_trades") == 0, "no_production_trades"),
        F.when(F.col("win_rate") > _PPV_MAX_WR, "win_rate_suspicious"),
        F.when(
            (F.col("buy_count") > 0) & (F.col("sell_count") == 0),
            "positions_never_closed",
        ),
        F.when(
            F.col("closed_trades") < _PPV_MIN_CLOSED,
            "insufficient_closed_trades",
        ),
    )
    warnings = F.concat_ws(
        ",",
        F.when(F.col("null_source_pct") > 0.0, "null_data_source_present"),
        F.when(
            F.col("synthetic_count") > 0, "synthetic_contamination_flagged"
        ),
        F.when(
            F.col("buy_count") > F.col("sell_count") * 5,
            "lifecycle_imbalance",
        ),
        F.when(
            F.col("trading_days") < _PPV_MIN_DAYS, "insufficient_trading_days"
        ),
        F.when(F.col("profit_factor") < _PPV_MIN_PF, "low_profit_factor"),
    )
    v = g.withColumn("violations", violations).withColumn(
        "warnings", warnings
    )
    return v.select(
        "total_trades",
        "unique_tickers",
        "trading_days",
        "winning_trades",
        "losing_trades",
        "no_pnl_trades",
        "closed_trades",
        F.round("total_pnl", 2).alias("total_pnl"),
        r6(F.col("win_rate")).alias("win_rate"),
        r6(F.col("profit_factor")).alias("profit_factor"),
        r6(F.col("null_source_pct")).alias("null_data_source_pct"),
        F.col("synthetic_count").alias("synthetic_ticker_count"),
        "buy_count",
        "sell_count",
        "hold_count",
        "violations",
        "warnings",
        (F.col("violations") == "").cast("int").alias("is_proof_valid"),
        ((F.col("violations") == "") & (F.col("total_pnl") > 0))
        .cast("int")
        .alias("is_profitable"),
    )


# ---------------------------------------------------------------------------
# NAV rebalance plan
# ---------------------------------------------------------------------------

# Reference `scripts/build_nav_rebalance_plan.py:49-630`: per-ticker plan
# rows — eligibility status -> target bucket (HEALTHY -> ts_core, WEAK ->
# cash_reserve, LAB_ONLY -> research_only, `:49-53`), the eligibility
# score (`_score_from_eligibility`, `:133-148`: clamped omega/payoff/TP
# components 0.45/0.35/0.20, HEALTHY floor 0.1, WEAK x0.15 floor 0.01),
# the PROMOTE/DEMOTE/RESEARCH_ONLY/HOLD action, promotion-plan
# membership codes, and HEALTHY NAV fractions via the bucket allocator
# (`risk/nav_allocator.py:35-76`: proportional within the clamped
# ts_core budget); plus the per-bucket allocation rows (configured /
# allocated / reserve, `:419-438`). Reason codes are emitted sorted —
# the reference's sorted(set(...)).
_NRP_BUDGETS = {
    # bucket: (base, min, max) NAV fractions (risk_buckets.yml shadow set)
    "safe": (0.60, 0.50, 0.70),
    "ts_core": (0.25, 0.10, 0.40),
    "speculative": (0.10, 0.00, 0.15),
    "cash_reserve": (0.05, 0.00, 1.00),
    "research_only": (0.00, 0.00, 0.00),
}
_NRP_TSCORE_EFF = min(max(0.25, 0.10), 0.40)  # clamped ts_core budget


@query(
    "nav_rebalance_plan",
    oracle=f"""
    {_ELG_SQL},
    {_SLV_AGG_SQL},
    plan AS (
      SELECT ticker,
             CASE WHEN trades < {_SLV_PROMO_MIN_TRADES} THEN 'HOLD'
                  WHEN sleeve = 'speculative'
                       AND win_rate >= {_SLV_PROMOTE_WR}
                       AND profit_factor >= {_SLV_PROMOTE_PF} THEN 'PROMOTE'
                  WHEN sleeve = 'core'
                       AND (win_rate <= {_SLV_DEMOTE_WR}
                            OR profit_factor <= {_SLV_DEMOTE_PF})
                  THEN 'DEMOTE'
                  ELSE 'HOLD' END AS plan_action
      FROM slv2
    ),
    el AS (
      -- status from RAW values (exactly R62's ladder inputs); rounded
      -- copies feed the score so both engines blend identical numbers
      SELECT ticker, n_trades,
             ROUND(win_rate, 6) AS win_rate,
             ROUND(profit_factor, 6) AS profit_factor,
             ROUND(tp_freq, 6) AS tp_freq,
             ROUND(omega, 6) AS omega,
             ROUND(payoff_eff, 6) AS payoff_eff,
             CASE WHEN ticker = 'T7' THEN 'LAB_ONLY'
                  WHEN n_trades >= {_ELG_HEALTHY_N}
                       AND omega >= {_ELG_OMEGA_FLOOR}
                       AND payoff_eff >= {_ELG_PAYOFF_FLOOR}
                       AND tp_freq >= {_ELG_TP_FLOOR} THEN 'HEALTHY'
                  WHEN n_trades >= {_ELG_WEAK_N}
                       AND (omega >= {_ELG_OMEGA_FLOOR}
                            OR payoff_eff >= {_ELG_PAYOFF_FLOOR}
                            OR tp_freq >= {_ELG_TP_FLOOR}) THEN 'WEAK'
                  ELSE 'LAB_ONLY' END AS status,
             CASE WHEN CAST(SUBSTR(ticker, 2) AS INTEGER) < 8 THEN 'safe'
                  WHEN CAST(SUBSTR(ticker, 2) AS INTEGER) < 17
                  THEN 'ts_core'
                  ELSE 'speculative' END AS current_bucket
      FROM cls
    ),
    scored AS (
      SELECT e.*,
             COALESCE(p.plan_action, 'HOLD') AS plan_action,
             CASE e.status WHEN 'HEALTHY' THEN 'ts_core'
                  WHEN 'WEAK' THEN 'cash_reserve'
                  ELSE 'research_only' END AS target_bucket,
             CASE WHEN e.status = 'HEALTHY' AND e.current_bucket <> 'ts_core'
                  THEN 'PROMOTE'
                  WHEN e.status = 'HEALTHY' THEN 'HOLD'
                  WHEN e.status = 'WEAK' THEN 'DEMOTE'
                  ELSE 'RESEARCH_ONLY' END AS action,
             CASE WHEN e.status = 'HEALTHY'
                  THEN GREATEST(0.45 * GREATEST(0.0, LEAST(e.omega, 3.0))
                       + 0.35 * GREATEST(0.0, LEAST(e.payoff_eff / 2.0, 3.0))
                       + 0.20 * GREATEST(0.0, LEAST(e.tp_freq / 0.095, 3.0)),
                       0.1)
                  WHEN e.status = 'WEAK'
                  THEN GREATEST((0.45 * GREATEST(0.0, LEAST(e.omega, 3.0))
                       + 0.35 * GREATEST(0.0, LEAST(e.payoff_eff / 2.0, 3.0))
                       + 0.20 * GREATEST(0.0, LEAST(e.tp_freq / 0.095, 3.0)))
                       * 0.15, 0.01)
                  ELSE 0.0 END AS score
      FROM el e LEFT JOIN plan p ON p.ticker = e.ticker
    ),
    hsum AS (
      SELECT SUM(CASE WHEN status = 'HEALTHY' THEN score END) AS total_score
      FROM scored
    ),
    rows_out AS (
      SELECT s.ticker, s.status, s.current_bucket, s.target_bucket,
             s.action,
             ROUND(s.score, 6) AS score,
             ROUND(CASE WHEN s.status = 'HEALTHY' AND h.total_score > 0
                        THEN s.score / h.total_score * {_NRP_TSCORE_EFF}
                        ELSE 0.0 END, 8) AS target_nav_frac,
             ARRAY_TO_STRING(LIST_SORT(STRING_SPLIT(CONCAT_WS(',',
               CASE s.status WHEN 'HEALTHY' THEN 'status_healthy'
                    WHEN 'WEAK' THEN 'status_weak'
                    ELSE 'status_lab_only' END,
               CASE WHEN s.plan_action = 'PROMOTE'
                    THEN 'in_promotion_plan' END,
               CASE WHEN s.plan_action = 'DEMOTE'
                    THEN 'in_demotion_plan' END), ',')), ',')
               AS reason_codes,
             ROUND(s.omega, 6) AS omega_ratio,
             ROUND(s.payoff_eff, 6) AS payoff_asymmetry_effective,
             ROUND(s.tp_freq, 6) AS take_profit_frequency,
             ROUND(s.win_rate, 6) AS win_rate,
             ROUND(s.profit_factor, 6) AS profit_factor
      FROM scored s, hsum h
    )
    SELECT 'ticker' AS record_type, ticker, status, current_bucket,
           target_bucket, action, score, target_nav_frac, reason_codes,
           omega_ratio, payoff_asymmetry_effective, take_profit_frequency,
           win_rate, profit_factor,
           CAST(NULL AS DOUBLE) AS configured_nav_frac,
           CAST(NULL AS DOUBLE) AS allocated_nav_frac,
           CAST(NULL AS DOUBLE) AS reserve_nav_frac,
           CAST(NULL AS BIGINT) AS n_symbols
    FROM rows_out
    UNION ALL
    SELECT 'bucket', b.bucket, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
           NULL, NULL, NULL, NULL, NULL,
           ROUND(b.configured, 8),
           ROUND(COALESCE(a.allocated, 0.0), 8),
           ROUND(GREATEST(0.0, b.configured - COALESCE(a.allocated, 0.0)), 8),
           COALESCE(a.n_symbols, 0)
    FROM (VALUES {", ".join(
        f"('{b}', CAST({min(max(v[0], v[1]), v[2])!r} AS DOUBLE))"
        for b, v in _NRP_BUDGETS.items()
    )}) AS b(bucket, configured)
    LEFT JOIN (
      SELECT target_bucket,
             SUM(target_nav_frac) AS allocated,
             CAST(COUNT(*) AS BIGINT) AS n_symbols
      FROM rows_out GROUP BY target_bucket
    ) a ON a.target_bucket = b.bucket
    """,
)
def nav_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NAV rebalance plan — reference
    `scripts/build_nav_rebalance_plan.py:271-630`: per-ticker rows
    (eligibility status -> target bucket, eligibility score with the
    reference's clamped 0.45/0.35/0.20 blend and HEALTHY/WEAK floors,
    PROMOTE/DEMOTE/RESEARCH_ONLY/HOLD action, sorted reason codes with
    promotion-plan membership, proportional ts_core NAV fractions via
    the clamped bucket budget — `risk/nav_allocator.py:35-76`) plus the
    per-bucket allocation rows (configured / allocated / reserve NAV
    fractions and symbol counts).

    Scale: reuses the eligibility and sleeve frames (key-cardinality),
    one broadcast total-score scalar, a constant bucket table. No UDF."""
    el = ticker_eligibility_classification(spark, sf_dir).select(
        "ticker",
        "status",
        "omega_ratio",
        "payoff_asymmetry_effective",
        "take_profit_frequency",
        "win_rate",
        "profit_factor",
    )
    plan = sleeve_promotion_plan(spark, sf_dir).select(
        "ticker", F.col("action").alias("plan_action")
    )
    tnum = F.substring("ticker", 2, 10).cast("int")
    e = el.join(plan, "ticker", "left").select(
        "*",
        F.when(tnum < 8, "safe")
        .when(tnum < 17, "ts_core")
        .otherwise("speculative")
        .alias("current_bucket"),
    )
    base = (
        0.45 * F.greatest(F.lit(0.0), F.least(F.col("omega_ratio"), F.lit(3.0)))
        + 0.35
        * F.greatest(
            F.lit(0.0),
            F.least(F.col("payoff_asymmetry_effective") / 2.0, F.lit(3.0)),
        )
        + 0.20
        * F.greatest(
            F.lit(0.0),
            F.least(F.col("take_profit_frequency") / 0.095, F.lit(3.0)),
        )
    )
    score = (
        F.when(F.col("status") == "HEALTHY", F.greatest(base, F.lit(0.1)))
        .when(F.col("status") == "WEAK", F.greatest(base * 0.15, F.lit(0.01)))
        .otherwise(0.0)
    )
    scored = e.select(
        "*",
        F.when(F.col("status") == "HEALTHY", "ts_core")
        .when(F.col("status") == "WEAK", "cash_reserve")
        .otherwise("research_only")
        .alias("target_bucket"),
        F.when(
            (F.col("status") == "HEALTHY")
            & (F.col("current_bucket") != "ts_core"),
            "PROMOTE",
        )
        .when(F.col("status") == "HEALTHY", "HOLD")
        .when(F.col("status") == "WEAK", "DEMOTE")
        .otherwise("RESEARCH_ONLY")
        .alias("action"),
        score.alias("score"),
    )
    hsum = scored.agg(
        F.sum(F.when(F.col("status") == "HEALTHY", F.col("score"))).alias(
            "total_score"
        )
    )
    codes = F.array_join(
        F.array_sort(
            F.split(
                F.concat_ws(
                    ",",
                    F.when(F.col("status") == "HEALTHY", "status_healthy")
                    .when(F.col("status") == "WEAK", "status_weak")
                    .otherwise("status_lab_only"),
                    F.when(
                        F.col("plan_action") == "PROMOTE", "in_promotion_plan"
                    ),
                    F.when(
                        F.col("plan_action") == "DEMOTE", "in_demotion_plan"
                    ),
                ),
                ",",
            )
        ),
        ",",
    )
    rows_out = scored.crossJoin(F.broadcast(hsum)).select(
        F.lit("ticker").alias("record_type"),
        "ticker",
        "status",
        "current_bucket",
        "target_bucket",
        "action",
        r6(F.col("score")).alias("score"),
        F.round(
            F.when(
                (F.col("status") == "HEALTHY") & (F.col("total_score") > 0),
                F.col("score") / F.col("total_score") * _NRP_TSCORE_EFF,
            ).otherwise(0.0),
            8,
        ).alias("target_nav_frac"),
        codes.alias("reason_codes"),
        F.col("omega_ratio"),
        F.col("payoff_asymmetry_effective"),
        F.col("take_profit_frequency"),
        F.col("win_rate"),
        F.col("profit_factor"),
        F.lit(None).cast("double").alias("configured_nav_frac"),
        F.lit(None).cast("double").alias("allocated_nav_frac"),
        F.lit(None).cast("double").alias("reserve_nav_frac"),
        F.lit(None).cast("bigint").alias("n_symbols"),
    )
    buckets = spark.createDataFrame(
        [
            (b, float(min(max(v[0], v[1]), v[2])))
            for b, v in _NRP_BUDGETS.items()
        ],
        ["bucket", "configured"],
    )
    alloc = rows_out.groupBy("target_bucket").agg(
        F.sum("target_nav_frac").alias("allocated"),
        F.count(F.lit(1)).alias("n_symbols_a"),
    )
    brow = (
        buckets.join(
            alloc, buckets.bucket == alloc.target_bucket, "left"
        ).select(
            F.lit("bucket").alias("record_type"),
            F.col("bucket").alias("ticker"),
            F.lit(None).cast("string").alias("status"),
            F.lit(None).cast("string").alias("current_bucket"),
            F.lit(None).cast("string").alias("target_bucket"),
            F.lit(None).cast("string").alias("action"),
            F.lit(None).cast("double").alias("score"),
            F.lit(None).cast("double").alias("target_nav_frac"),
            F.lit(None).cast("string").alias("reason_codes"),
            F.lit(None).cast("double").alias("omega_ratio"),
            F.lit(None).cast("double").alias("payoff_asymmetry_effective"),
            F.lit(None).cast("double").alias("take_profit_frequency"),
            F.lit(None).cast("double").alias("win_rate"),
            F.lit(None).cast("double").alias("profit_factor"),
            F.round(F.col("configured"), 8).alias("configured_nav_frac"),
            F.round(F.coalesce(F.col("allocated"), F.lit(0.0)), 8).alias(
                "allocated_nav_frac"
            ),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.col("configured")
                    - F.coalesce(F.col("allocated"), F.lit(0.0)),
                ),
                8,
            ).alias("reserve_nav_frac"),
            F.coalesce(F.col("n_symbols_a"), F.lit(0))
            .cast("bigint")
            .alias("n_symbols"),
        )
    )
    return rows_out.unionByName(brow)


# ---------------------------------------------------------------------------
# TS threshold sweep (confidence x min-expected-return grid)
# ---------------------------------------------------------------------------

# Reference `scripts/sweep_ts_thresholds.py:53-269`: per (ticker,
# confidence_threshold, min_expected_return) gridpoint the realized
# trades that would have passed those thresholds are summarized
# (`_summarise_trades`: trades, win rate, profit factor, total profit,
# and PnL annualized over the observed span from the gridpoint's first
# trade to the window end), then per ticker the best gridpoint is
# selected under the qualification rules (`_select_best_by_rules`:
# >= 10 trades, PF >= 1.1, WR >= 0.5, argmax by (annualized PnL, total
# profit, PF) — grid order breaks exact ties deterministically). The
# trade confidence/expected-return channels are the portable-md5
# uniforms; the default CLI grid is pinned.
_TSW_GRID_CONF = (0.50, 0.55, 0.60)
_TSW_GRID_RET = (0.001, 0.002, 0.003)
_TSW_MIN_TRADES = 10
_TSW_MIN_PF = 1.1
_TSW_MIN_WR = 0.5


@query(
    "ts_threshold_sweep",
    oracle=f"""
    {_ELG_SQL.replace('      cls AS', '      cls_unused AS')},
    tr2 AS (
      SELECT t.ticker, t.orderkey, t.pnl,
             c2.cship_d AS close_d,
             0.5 + ('0x' || SUBSTR(MD5('conf|' || CAST(t.orderkey AS VARCHAR)),
                             1, 6))::BIGINT / 16777216.0 / 2 AS conf,
             ('0x' || SUBSTR(MD5('er|' || CAST(t.orderkey AS VARCHAR)),
                             1, 6))::BIGINT / 16777216.0 * 0.004 AS exp_ret
      FROM trades t
      JOIN (SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE) AS cship_d
            FROM lineitem GROUP BY l_orderkey) c2
        ON c2.l_orderkey = t.orderkey
    ),
    wend AS (SELECT MAX(close_d) AS window_end FROM tr2),
    grid AS (
      SELECT * FROM (VALUES {", ".join(f"({c!r})" for c in _TSW_GRID_CONF)})
        AS gc(conf_thr)
      CROSS JOIN (VALUES {", ".join(f"({r!r})" for r in _TSW_GRID_RET)})
        AS gr(ret_thr)
    ),
    gp AS (
      SELECT t.ticker, g.conf_thr, g.ret_thr,
             CAST(COUNT(*) AS BIGINT) AS total_trades,
             AVG(CASE WHEN t.pnl > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
             CAST(SUM(CASE WHEN t.pnl > 0 THEN CAST(t.pnl AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE) AS gross_profit,
             CAST(SUM(CASE WHEN t.pnl < 0
                           THEN CAST(ABS(t.pnl) AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE) AS gross_loss,
             MIN(t.close_d) AS first_trade_d
      FROM tr2 t CROSS JOIN grid g
      WHERE t.conf >= g.conf_thr AND t.exp_ret >= g.ret_thr
      GROUP BY t.ticker, g.conf_thr, g.ret_thr
    ),
    gp2 AS (
      SELECT gp.*,
             CASE WHEN gross_loss > 0
                  THEN LEAST(gross_profit / gross_loss, {_ELG_SENT!r})
                  WHEN gross_profit > 0 THEN {_ELG_SENT!r}
                  ELSE 0.0 END AS profit_factor,
             gross_profit - gross_loss AS total_profit,
             (gross_profit - gross_loss)
               * (365.0 / GREATEST(DATEDIFF('day', first_trade_d,
                                            w.window_end), 1))
               AS annualized_pnl
      FROM gp, wend w
    ),
    sel AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY ticker
                                ORDER BY annualized_pnl DESC,
                                         total_profit DESC,
                                         profit_factor DESC,
                                         conf_thr ASC, ret_thr ASC) AS rk
      FROM gp2
      WHERE total_trades >= {_TSW_MIN_TRADES}
        AND profit_factor >= {_TSW_MIN_PF}
        AND win_rate >= {_TSW_MIN_WR}
    )
    SELECT 'gridpoint' AS record_type, ticker, conf_thr, ret_thr,
           total_trades,
           ROUND(win_rate, 6) AS win_rate,
           ROUND(profit_factor, 6) AS profit_factor,
           ROUND(total_profit, 6) AS total_profit,
           ROUND(annualized_pnl, 6) AS annualized_pnl
    FROM gp2
    UNION ALL
    SELECT 'selection', ticker, conf_thr, ret_thr, total_trades,
           ROUND(win_rate, 6), ROUND(profit_factor, 6),
           ROUND(total_profit, 6), ROUND(annualized_pnl, 6)
    FROM sel WHERE rk = 1
    """,
)
def ts_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The confidence/expected-return threshold sweep — reference
    `scripts/sweep_ts_thresholds.py:127-269`: each (ticker, grid point)
    summarizes the trades that pass both thresholds (win rate,
    sentinel-capped profit factor, total profit, span-annualized PnL
    from the gridpoint's first trade to the window end), and the
    per-ticker selection applies the qualification rules (>= 10 trades,
    PF >= 1.1, WR >= 0.5) with the reference's (annualized PnL, total
    profit, PF) argmax — grid order breaks exact ties.

    Scale: the trade frame crossed with a 9-point constant grid
    (bounded fan-out), one (ticker, gridpoint) groupBy, one
    key-partitioned rank window. No UDF."""
    from ..functions.scalars import hash_unit_interval

    tr = _sleeve_trades_frame(spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    cship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").cast("date").alias("close_d")
    )
    # _sleeve_trades_frame drops orderkey; rebuild with it
    tr2 = (
        _closed_trades(spark, sf_dir)
        .join(cship, F.col("c.l_orderkey") == cship.l_orderkey)
        .select(
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string")).alias(
                "ticker"
            ),
            F.col("c.l_orderkey").alias("orderkey"),
            F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
            cship["close_d"],
            (
                0.5
                + hash_unit_interval(F.lit("conf"), F.col("c.l_orderkey")) / 2
            ).alias("conf"),
            (
                hash_unit_interval(F.lit("er"), F.col("c.l_orderkey")) * 0.004
            ).alias("exp_ret"),
        )
        .localCheckpoint()
    )
    wend = tr2.agg(F.max("close_d").alias("window_end"))
    grid = literal_grid(
        spark,
        [(c_, r_) for c_ in _TSW_GRID_CONF for r_ in _TSW_GRID_RET],
        "conf_thr double, ret_thr double",
    )
    dec = "decimal(28,6)"
    gp = (
        tr2.crossJoin(F.broadcast(grid))
        .filter(
            (F.col("conf") >= F.col("conf_thr"))
            & (F.col("exp_ret") >= F.col("ret_thr"))
        )
        .groupBy("ticker", "conf_thr", "ret_thr")
        .agg(
            F.count(F.lit(1)).alias("total_trades"),
            F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)).alias(
                "win_rate"
            ),
            F.sum(
                F.when(F.col("pnl") > 0, F.col("pnl").cast(dec)).otherwise(
                    F.lit(0).cast(dec)
                )
            )
            .cast("double")
            .alias("gross_profit"),
            F.sum(
                F.when(
                    F.col("pnl") < 0, F.abs(F.col("pnl")).cast(dec)
                ).otherwise(F.lit(0).cast(dec))
            )
            .cast("double")
            .alias("gross_loss"),
            F.min("close_d").alias("first_trade_d"),
        )
    )
    pf = (
        F.when(
            F.col("gross_loss") > 0,
            F.least(
                F.col("gross_profit") / F.col("gross_loss"), F.lit(_ELG_SENT)
            ),
        )
        .when(F.col("gross_profit") > 0, _ELG_SENT)
        .otherwise(0.0)
    )
    gp2 = gp.crossJoin(F.broadcast(wend)).select(
        "*",
        pf.alias("profit_factor"),
        (F.col("gross_profit") - F.col("gross_loss")).alias("total_profit"),
        (
            (F.col("gross_profit") - F.col("gross_loss"))
            * (
                365.0
                / F.greatest(
                    F.datediff("window_end", "first_trade_d"), F.lit(1)
                )
            )
        ).alias("annualized_pnl"),
    )

    def out(df, rtype):
        return df.select(
            F.lit(rtype).alias("record_type"),
            "ticker",
            "conf_thr",
            "ret_thr",
            "total_trades",
            r6(F.col("win_rate")).alias("win_rate"),
            r6(F.col("profit_factor")).alias("profit_factor"),
            r6(F.col("total_profit")).alias("total_profit"),
            r6(F.col("annualized_pnl")).alias("annualized_pnl"),
        )

    sel = (
        gp2.filter(
            (F.col("total_trades") >= _TSW_MIN_TRADES)
            & (F.col("profit_factor") >= _TSW_MIN_PF)
            & (F.col("win_rate") >= _TSW_MIN_WR)
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("ticker").orderBy(
                    F.col("annualized_pnl").desc(),
                    F.col("total_profit").desc(),
                    F.col("profit_factor").desc(),
                    F.col("conf_thr").asc(),
                    F.col("ret_thr").asc(),
                )
            ),
        )
        .filter(F.col("rk") == 1)
    )
    return out(gp2, "gridpoint").unionByName(out(sel, "selection"))


# ---------------------------------------------------------------------------
# Quant-validation summary (tier ladder over per-day validation entries)
# ---------------------------------------------------------------------------

# Reference `scripts/summarize_quant_validation.py:29-258`: per-ticker
# median metrics over validation entries (profit factor, win rate,
# annual return), PASS/FAIL censuses, the failed-criteria counter, and
# the GREEN / YELLOW / RED tier ladder (production thresholds gate
# GREEN, softer research thresholds gate YELLOW) with production-driven
# alert codes. The engine's validation entry is one (ticker, close-day)
# run over that day's closed trades.
_QVS_MIN_PF = 1.3
_QVS_MIN_WR = 0.45
_QVS_MIN_AR = 0.0
_QVS_MIN_PASS = 0.5
_QVS_WARN_PF = 1.1
_QVS_WARN_WR = 0.40
_QVS_WARN_AR = -0.05
_QVS_WARN_PASS = 0.4
_QVS_CAPITAL = 1_000_000.0


@query(
    "quant_validation_summary",
    oracle=f"""
    {_ELG_SQL.replace('      cls AS', '      cls_unused AS')},
    entries AS (
      SELECT t.ticker, c2.close_d,
             CAST(COUNT(*) AS BIGINT) AS n_trades,
             AVG(CASE WHEN t.pnl > 0 THEN 1.0 ELSE 0.0 END) AS wr,
             CASE WHEN CAST(SUM(CASE WHEN t.pnl < 0
                             THEN CAST(ABS(t.pnl) AS DECIMAL(28,6))
                             ELSE 0 END) AS DOUBLE) > 0
                  THEN LEAST(CAST(SUM(CASE WHEN t.pnl > 0
                                   THEN CAST(t.pnl AS DECIMAL(28,6))
                                   ELSE 0 END) AS DOUBLE)
                             / CAST(SUM(CASE WHEN t.pnl < 0
                                     THEN CAST(ABS(t.pnl) AS DECIMAL(28,6))
                                     ELSE 0 END) AS DOUBLE), {_ELG_SENT!r})
                  WHEN CAST(SUM(CASE WHEN t.pnl > 0
                               THEN CAST(t.pnl AS DECIMAL(28,6))
                               ELSE 0 END) AS DOUBLE) > 0
                  THEN {_ELG_SENT!r} ELSE 0.0 END AS pf,
             CAST(SUM(CAST(t.pnl AS DECIMAL(28,6))) AS DOUBLE)
               / {_QVS_CAPITAL} * 365.0 AS ar,
             CASE WHEN CAST(SUM(CAST(t.pnl AS DECIMAL(28,6))) AS DOUBLE) > 0
                  THEN 'PASS' ELSE 'FAIL' END AS status
      FROM trades t
      JOIN (SELECT l.l_orderkey, CAST(MAX(l.l_shipdate) AS DATE) AS close_d
            FROM lineitem l
            JOIN mx ON mx.l_orderkey = l.l_orderkey
                   AND l.l_linenumber = mx.maxline
            GROUP BY l.l_orderkey) c2
        ON c2.l_orderkey = t.orderkey
      GROUP BY t.ticker, c2.close_d
    ),
    per AS (
      SELECT ticker,
             CAST(COUNT(*) AS BIGINT) AS n_entries,
             CAST(SUM(CASE WHEN status = 'PASS' THEN 1 ELSE 0 END)
               AS BIGINT) AS pass_count,
             CAST(SUM(CASE WHEN status = 'FAIL' THEN 1 ELSE 0 END)
               AS BIGINT) AS fail_count,
             QUANTILE_CONT(pf, 0.5) AS med_pf,
             QUANTILE_CONT(wr, 0.5) AS med_wr,
             QUANTILE_CONT(ar, 0.5) AS med_ar
      FROM entries GROUP BY ticker
    ),
    tiered AS (
      SELECT *,
             CAST(pass_count AS DOUBLE) / n_entries AS pass_rate,
             (med_pf >= {_QVS_MIN_PF} AND med_wr >= {_QVS_MIN_WR}
              AND med_ar >= {_QVS_MIN_AR}
              AND CAST(pass_count AS DOUBLE) / n_entries >= {_QVS_MIN_PASS})
               AS production_ok,
             (med_pf >= {_QVS_WARN_PF} AND med_wr >= {_QVS_WARN_WR}
              AND med_ar >= {_QVS_WARN_AR}
              AND CAST(pass_count AS DOUBLE) / n_entries >= {_QVS_WARN_PASS})
               AS research_ok
      FROM per
    )
    SELECT ticker, n_entries, pass_count, fail_count,
           ROUND(med_pf, 6) AS median_profit_factor,
           ROUND(med_wr, 6) AS median_win_rate,
           ROUND(med_ar, 6) AS median_annual_return,
           ROUND(pass_rate, 6) AS pass_rate,
           CASE WHEN production_ok THEN 'GREEN'
                WHEN research_ok THEN 'YELLOW' ELSE 'RED' END AS tier,
           CONCAT_WS(',',
             CASE WHEN med_pf < {_QVS_MIN_PF} THEN 'PF<min' END,
             CASE WHEN med_wr < {_QVS_MIN_WR} THEN 'WR<min' END,
             CASE WHEN med_ar < {_QVS_MIN_AR} THEN 'AnnRet<min' END,
             CASE WHEN pass_rate < {_QVS_MIN_PASS}
                  THEN 'PASS_rate<min' END) AS alerts
    FROM tiered
    """,
)
def quant_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker quant-validation rollup — reference
    `scripts/summarize_quant_validation.py:82-258`: median profit
    factor / win rate / annual return over validation entries (here one
    entry per ticker-day of closed trades), PASS/FAIL counts and pass
    rate, the GREEN/YELLOW/RED tier ladder (production thresholds gate
    GREEN, the softer research rung gates YELLOW) and the
    production-threshold alert codes.

    Scale: one (ticker, day) groupBy + one per-ticker median
    aggregation. No UDF."""
    trades = (
        _closed_trades(spark, sf_dir)
        .select(
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string")).alias(
                "ticker"
            ),
            F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
            "close_d",
        )
    )
    dec = "decimal(28,6)"
    gp = F.sum(
        F.when(F.col("pnl") > 0, F.col("pnl").cast(dec)).otherwise(
            F.lit(0).cast(dec)
        )
    ).cast("double")
    gl = F.sum(
        F.when(F.col("pnl") < 0, F.abs(F.col("pnl")).cast(dec)).otherwise(
            F.lit(0).cast(dec)
        )
    ).cast("double")
    tot = F.sum(F.col("pnl").cast(dec)).cast("double")
    entries = trades.groupBy("ticker", "close_d").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)).alias("wr"),
        F.when(gl > 0, F.least(gp / gl, F.lit(_ELG_SENT)))
        .when(gp > 0, _ELG_SENT)
        .otherwise(0.0)
        .alias("pf"),
        (tot / _QVS_CAPITAL * 365.0).alias("ar"),
        F.when(tot > 0, "PASS").otherwise("FAIL").alias("status"),
    )
    per = entries.groupBy("ticker").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.sum((F.col("status") == "PASS").cast("int"))
        .cast("bigint")
        .alias("pass_count"),
        F.sum((F.col("status") == "FAIL").cast("int"))
        .cast("bigint")
        .alias("fail_count"),
        F.expr("percentile(pf, 0.5)").alias("med_pf"),
        F.expr("percentile(wr, 0.5)").alias("med_wr"),
        F.expr("percentile(ar, 0.5)").alias("med_ar"),
    )
    pass_rate = F.col("pass_count").cast("double") / F.col("n_entries")
    production_ok = (
        (F.col("med_pf") >= _QVS_MIN_PF)
        & (F.col("med_wr") >= _QVS_MIN_WR)
        & (F.col("med_ar") >= _QVS_MIN_AR)
        & (pass_rate >= _QVS_MIN_PASS)
    )
    research_ok = (
        (F.col("med_pf") >= _QVS_WARN_PF)
        & (F.col("med_wr") >= _QVS_WARN_WR)
        & (F.col("med_ar") >= _QVS_WARN_AR)
        & (pass_rate >= _QVS_WARN_PASS)
    )
    return per.select(
        "ticker",
        "n_entries",
        "pass_count",
        "fail_count",
        r6(F.col("med_pf")).alias("median_profit_factor"),
        r6(F.col("med_wr")).alias("median_win_rate"),
        r6(F.col("med_ar")).alias("median_annual_return"),
        r6(pass_rate).alias("pass_rate"),
        F.when(production_ok, "GREEN")
        .when(research_ok, "YELLOW")
        .otherwise("RED")
        .alias("tier"),
        F.concat_ws(
            ",",
            F.when(F.col("med_pf") < _QVS_MIN_PF, "PF<min"),
            F.when(F.col("med_wr") < _QVS_MIN_WR, "WR<min"),
            F.when(F.col("med_ar") < _QVS_MIN_AR, "AnnRet<min"),
            F.when(pass_rate < _QVS_MIN_PASS, "PASS_rate<min"),
        ).alias("alerts"),
    )


# ---------------------------------------------------------------------------
# Barbell PnL evaluation (baseline vs barbell-sized arms)
# ---------------------------------------------------------------------------

# Reference `scripts/run_barbell_pnl_evaluation.py:122-387`: the
# trade-history replay runs TWO arms — baseline (raw realized PnL) and
# barbell-sized (PnL scaled by the bucket multiplier before
# accumulation) — each producing trade stats, the sequential equity
# curve with its max drawdown (`_max_drawdown`, `:144-154`), and the
# distribution metrics over sequential equity-relative trade returns
# (`_augment_distribution_metrics`, `:163-252`: NGN-hurdle omega, raw
# payoff asymmetry, 10%-tail expected shortfall). The delta row carries
# the sized-minus-baseline comparison the evaluation exists to make.
# Bucket multipliers are the deployment-style barbell sizing set.
_BPE_MULT = {"safe": 1.2, "core": 1.0, "speculative": 0.6}
_BPE_CAPITAL = 1_000_000.0


@query(
    "barbell_pnl_evaluation",
    oracle=f"""
    {_ELG_SQL.replace('      cls AS', '      cls_unused AS')},
    tr3 AS (
      SELECT t.ticker, t.orderkey, t.pnl,
             c2.close_d,
             CASE WHEN CAST(SUBSTR(t.ticker, 2) AS INTEGER) < 8
                  THEN {_BPE_MULT['safe']!r}
                  WHEN CAST(SUBSTR(t.ticker, 2) AS INTEGER) < 17
                  THEN {_BPE_MULT['core']!r}
                  ELSE {_BPE_MULT['speculative']!r} END AS mult
      FROM trades t
      JOIN (SELECT l.l_orderkey, CAST(MAX(l.l_shipdate) AS DATE) AS close_d
            FROM lineitem l
            JOIN mx ON mx.l_orderkey = l.l_orderkey
                   AND l.l_linenumber = mx.maxline
            GROUP BY l.l_orderkey) c2 ON c2.l_orderkey = t.orderkey
    ),
    arms AS (
      SELECT 'baseline' AS arm, ticker, orderkey, close_d, pnl FROM tr3
      UNION ALL
      SELECT 'barbell_sized', ticker, orderkey, close_d,
             ROUND(pnl * mult, 6) FROM tr3
    ),
    eq AS (
      SELECT arm, ticker, orderkey, close_d, pnl,
             {_BPE_CAPITAL} + SUM(pnl) OVER w AS equity,
             {_BPE_CAPITAL}
               + COALESCE(SUM(pnl) OVER (PARTITION BY arm
                   ORDER BY close_d, orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
               AS equity_before
      FROM arms
      WINDOW w AS (PARTITION BY arm ORDER BY close_d, orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    eq2 AS (
      SELECT *,
             MAX(equity) OVER (PARTITION BY arm ORDER BY close_d, orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS peak,
             pnl / CASE WHEN ABS(equity_before) > 1e-9
                        THEN equity_before ELSE {_BPE_CAPITAL} END AS tret
      FROM eq
    ),
    rr AS (
      SELECT arm, tret,
             ROW_NUMBER() OVER (PARTITION BY arm ORDER BY tret, orderkey)
               AS rk_asc,
             COUNT(*) OVER (PARTITION BY arm) AS n
      FROM eq2
    ),
    summ2 AS (
      SELECT e.arm,
             CAST(COUNT(*) AS BIGINT) AS total_trades,
             AVG(CASE WHEN e.pnl > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
             CAST(SUM(CASE WHEN e.pnl > 0 THEN CAST(e.pnl AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE) AS gross_profit,
             CAST(SUM(CASE WHEN e.pnl < 0
                           THEN CAST(ABS(e.pnl) AS DECIMAL(28,6))
                           ELSE 0 END) AS DOUBLE) AS gross_loss,
             MAX((e.peak - e.equity) / e.peak) AS max_drawdown,
             SUM(GREATEST(e.tret - {_ELG_TAU!r}, 0.0)) AS o_gain,
             SUM(GREATEST({_ELG_TAU!r} - e.tret, 0.0)) AS o_loss,
             AVG(CASE WHEN e.tret > 0 THEN e.tret END) AS avg_win_r,
             AVG(CASE WHEN e.tret < 0 THEN -e.tret END) AS avg_loss_r
      FROM eq2 e GROUP BY e.arm
    ),
    es AS (
      SELECT r.arm,
             AVG(CASE WHEN r.rk_asc <= GREATEST(1, FLOOR(r.n * 0.10))
                      THEN r.tret END) AS es_raw
      FROM rr r GROUP BY r.arm
    ),
    m AS (
      SELECT s.arm, s.total_trades,
             ROUND(s.win_rate, 6) AS win_rate,
             ROUND(s.gross_profit - s.gross_loss, 2) AS total_profit,
             ROUND((s.gross_profit - s.gross_loss) / {_BPE_CAPITAL}, 6)
               AS total_return_pct,
             ROUND(CASE WHEN s.gross_loss > 0
                        THEN LEAST(s.gross_profit / s.gross_loss,
                                   {_ELG_SENT!r})
                        WHEN s.gross_profit > 0 THEN {_ELG_SENT!r}
                        ELSE 0.0 END, 6) AS profit_factor,
             ROUND(s.max_drawdown, 6) AS max_drawdown,
             ROUND(CASE WHEN s.o_loss = 0.0 THEN {_ELG_SENT!r}
                        ELSE s.o_gain / s.o_loss END, 6) AS omega_ratio,
             ROUND(CASE WHEN s.avg_loss_r IS NULL OR s.avg_loss_r = 0
                        THEN {_ELG_SENT!r}
                        ELSE COALESCE(s.avg_win_r, 0.0)
                             / GREATEST(s.avg_loss_r, 1e-12) END, 6)
               AS payoff_asymmetry,
             ROUND(e.es_raw, 6) AS expected_shortfall
      FROM summ2 s JOIN es e ON e.arm = s.arm
    )
    SELECT arm, total_trades, win_rate, total_profit, total_return_pct,
           profit_factor, max_drawdown, omega_ratio, payoff_asymmetry,
           expected_shortfall
    FROM m
    UNION ALL
    SELECT 'delta',
           MAX(CASE WHEN arm = 'barbell_sized' THEN total_trades END)
             - MAX(CASE WHEN arm = 'baseline' THEN total_trades END),
           ROUND(MAX(CASE WHEN arm = 'barbell_sized' THEN win_rate END)
             - MAX(CASE WHEN arm = 'baseline' THEN win_rate END), 6),
           ROUND(MAX(CASE WHEN arm = 'barbell_sized' THEN total_profit END)
             - MAX(CASE WHEN arm = 'baseline' THEN total_profit END), 2),
           ROUND(MAX(CASE WHEN arm = 'barbell_sized'
                          THEN total_return_pct END)
             - MAX(CASE WHEN arm = 'baseline' THEN total_return_pct END), 6),
           ROUND(MAX(CASE WHEN arm = 'barbell_sized' THEN profit_factor END)
             - MAX(CASE WHEN arm = 'baseline' THEN profit_factor END), 6),
           ROUND(MAX(CASE WHEN arm = 'barbell_sized' THEN max_drawdown END)
             - MAX(CASE WHEN arm = 'baseline' THEN max_drawdown END), 6),
           ROUND(MAX(CASE WHEN arm = 'barbell_sized' THEN omega_ratio END)
             - MAX(CASE WHEN arm = 'baseline' THEN omega_ratio END), 6),
           ROUND(MAX(CASE WHEN arm = 'barbell_sized'
                          THEN payoff_asymmetry END)
             - MAX(CASE WHEN arm = 'baseline' THEN payoff_asymmetry END), 6),
           ROUND(MAX(CASE WHEN arm = 'barbell_sized'
                          THEN expected_shortfall END)
             - MAX(CASE WHEN arm = 'baseline' THEN expected_shortfall END), 6)
    FROM m
    """,
)
def barbell_pnl_evaluation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-arm barbell PnL evaluation — reference
    `scripts/run_barbell_pnl_evaluation.py:122-387,609-764`: the same
    trade history replayed as the baseline arm and the barbell-sized
    arm (bucket multiplier applied to each trade's PnL), each producing
    win rate / profit factor / total return, the sequential equity
    curve's max drawdown, and the distribution metrics over sequential
    equity-relative trade returns (NGN-hurdle omega, raw payoff
    asymmetry, 10%-tail expected shortfall), with the delta row the
    gate consumes.

    Scale: the equity ledger is inherently sequential (per-arm ordered
    windows over the bounded TRADE grain, not raw rows) — the same
    ledger class as the oracle-checked paper-trading replay; everything
    else is bounded aggregation. No UDF."""
    sid = F.col("o_custkey") % 25
    tr3 = (
        _closed_trades(spark, sf_dir)
        .select(
            F.concat(F.lit("T"), sid.cast("string")).alias("ticker"),
            F.col("c.l_orderkey").alias("orderkey"),
            F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
            "close_d",
            F.when(sid < 8, _BPE_MULT["safe"])
            .when(sid < 17, _BPE_MULT["core"])
            .otherwise(_BPE_MULT["speculative"])
            .alias("mult"),
        )
    )
    # one pass, not a self-union (optimization round 13, guide §2.4): the
    # union embedded tr3's whole closes/opens/orders subtree twice in the
    # plan; exploding each trade into its two arm rows keeps one subtree
    # (rows and values identical, order irrelevant to the sorted hash)
    arms = tr3.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("baseline").alias("arm"), F.col("pnl").alias("pnl")
                ),
                F.struct(
                    F.lit("barbell_sized").alias("arm"),
                    F.round(F.col("pnl") * F.col("mult"), 6).alias("pnl"),
                ),
            )
        ).alias("_a"),
        "ticker",
        "orderkey",
        "close_d",
    ).select(
        F.col("_a.arm").alias("arm"), "ticker", "orderkey", "close_d",
        F.col("_a.pnl").alias("pnl"),
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("close_d", "orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wprev = (
        Window.partitionBy("arm")
        .orderBy("close_d", "orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    eq = arms.select(
        "*",
        (_BPE_CAPITAL + F.sum("pnl").over(w)).alias("equity"),
        (
            _BPE_CAPITAL + F.coalesce(F.sum("pnl").over(wprev), F.lit(0.0))
        ).alias("equity_before"),
    )
    eq2 = eq.select(
        "*",
        F.max("equity").over(w).alias("peak"),
        (
            F.col("pnl")
            / F.when(
                F.abs(F.col("equity_before")) > 1e-9, F.col("equity_before")
            ).otherwise(_BPE_CAPITAL)
        ).alias("tret"),
    )
    dec = "decimal(28,6)"
    summ2 = eq2.groupBy("arm").agg(
        F.count(F.lit(1)).alias("total_trades"),
        F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)).alias("win_rate"),
        F.sum(
            F.when(F.col("pnl") > 0, F.col("pnl").cast(dec)).otherwise(
                F.lit(0).cast(dec)
            )
        )
        .cast("double")
        .alias("gross_profit"),
        F.sum(
            F.when(F.col("pnl") < 0, F.abs(F.col("pnl")).cast(dec)).otherwise(
                F.lit(0).cast(dec)
            )
        )
        .cast("double")
        .alias("gross_loss"),
        F.max((F.col("peak") - F.col("equity")) / F.col("peak")).alias(
            "max_drawdown"
        ),
        F.sum(F.greatest(F.col("tret") - _ELG_TAU, F.lit(0.0))).alias(
            "o_gain"
        ),
        F.sum(F.greatest(F.lit(_ELG_TAU) - F.col("tret"), F.lit(0.0))).alias(
            "o_loss"
        ),
        F.avg(F.when(F.col("tret") > 0, F.col("tret"))).alias("avg_win_r"),
        F.avg(F.when(F.col("tret") < 0, -F.col("tret"))).alias("avg_loss_r"),
    )
    rr = eq2.select(
        "arm",
        "tret",
        F.row_number()
        .over(Window.partitionBy("arm").orderBy("tret", "orderkey"))
        .alias("rk_asc"),
        F.count(F.lit(1)).over(Window.partitionBy("arm")).alias("n"),
    )
    es = rr.groupBy("arm").agg(
        F.avg(
            F.when(
                F.col("rk_asc")
                <= F.greatest(F.lit(1), F.floor(F.col("n") * 0.10)),
                F.col("tret"),
            )
        ).alias("es_raw")
    )
    m = summ2.join(es, "arm").select(
        "arm",
        "total_trades",
        r6(F.col("win_rate")).alias("win_rate"),
        F.round(F.col("gross_profit") - F.col("gross_loss"), 2).alias(
            "total_profit"
        ),
        r6(
            (F.col("gross_profit") - F.col("gross_loss")) / _BPE_CAPITAL
        ).alias("total_return_pct"),
        r6(
            F.when(
                F.col("gross_loss") > 0,
                F.least(
                    F.col("gross_profit") / F.col("gross_loss"),
                    F.lit(_ELG_SENT),
                ),
            )
            .when(F.col("gross_profit") > 0, _ELG_SENT)
            .otherwise(0.0)
        ).alias("profit_factor"),
        r6(F.col("max_drawdown")).alias("max_drawdown"),
        r6(
            F.when(F.col("o_loss") == 0.0, _ELG_SENT).otherwise(
                F.col("o_gain") / F.col("o_loss")
            )
        ).alias("omega_ratio"),
        r6(
            F.when(
                F.col("avg_loss_r").isNull() | (F.col("avg_loss_r") == 0),
                _ELG_SENT,
            ).otherwise(
                F.coalesce(F.col("avg_win_r"), F.lit(0.0))
                / F.greatest(F.col("avg_loss_r"), F.lit(1e-12))
            )
        ).alias("payoff_asymmetry"),
        r6(F.col("es_raw")).alias("expected_shortfall"),
    )

    # delta row WITHOUT a union of m with an aggregate of m (optimization
    # round 13, guide §2.4): that union re-embedded the full two-arm
    # pipeline a second time (the 1,910-line plan). One pivot aggregate
    # references m once; the three output rows (two arms + delta) explode
    # from the single wide row with identical values.
    metrics = [
        "total_trades",
        "win_rate",
        "total_profit",
        "total_return_pct",
        "profit_factor",
        "max_drawdown",
        "omega_ratio",
        "payoff_asymmetry",
        "expected_shortfall",
    ]

    def pick(arm, col):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))

    wide = m.agg(
        *[pick("baseline", c).alias(f"b_{c}") for c in metrics],
        *[pick("barbell_sized", c).alias(f"s_{c}") for c in metrics],
    )

    def row(arm_name, val):
        return F.struct(
            F.lit(arm_name).alias("arm"),
            *[val(c).alias(c) for c in metrics],
        )

    def dval(c):
        d = F.col(f"s_{c}") - F.col(f"b_{c}")
        if c == "total_trades":
            return d
        return F.round(d, 2 if c == "total_profit" else 6)

    return wide.select(
        F.explode(
            F.array(
                row("baseline", lambda c: F.col(f"b_{c}")),
                row("barbell_sized", lambda c: F.col(f"s_{c}")),
                row("delta", dval),
            )
        ).alias("_r")
    ).select("_r.*")


# ---------------------------------------------------------------------------
# Outcome-linkage attribution: stop-loss toxicity + direction-right-negative-
# PnL evidence on audit-linked closed trades
# ---------------------------------------------------------------------------

# Reference `scripts/outcome_linkage_attribution_report.py`: closed trades
# joined to the forecast-audit index via ts_signal_id (`:26-66` audit index,
# `:151-180` trade load), per-record attribution columns (`:195-280`:
# direction match, correct-direction-negative-PnL, causality/missing-exit
# integrity reasons, rr_ratio, take-profit + fast-take-profit flags, target
# amplitude), equal-frequency SNR terciles with beta-binomial posteriors
# (`:118-149`), the multiway (snr x rr x regime) table gated on >=30 TP
# records (`:352-390`), and the summary block with the observed/fallback
# take-profit filter threshold ladder (`:392-446`).
#
# World mapping (same round-trip conventions as `_exit_trades_frame`):
# order = closed trade (status F, open lot = line 1 non-R, close lot =
# max-line), the close lot's min tax band plays the exit-reason channel —
# here with a TAKE_PROFIT band and an empty-string band so the reference's
# MISSING_EXIT_REASON integrity reason has real support; ts_signal_id is
# 'ts_<key>' for even keys / 'llm_<key>' for %5 keys (the reference's
# `_is_ts_trade_signal_id` prefix split `:103-105`), and the audit index
# covers keys %4==0 so exactly half the ts trades are outcome-linked.
# The posterior interval uses the reference's documented no-scipy fallback
# branch (`:120-127`: normal approximation, clamped) — scipy is not in this
# container, same environment-forced choice the reference itself ships.
_OLA_Z975 = 1.959963984540054  # NormalDist().inv_cdf(0.975), ref `:125`

_OLA_SQL = """
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey,
             SUM(l.l_quantity) AS cq,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l.l_discount AS DECIMAL(5,2))) AS cnet,
             MAX(l.l_shipdate) AS cship,
             MIN(l.l_tax) AS ctax
      FROM lineitem l
      JOIN mx ON mx.l_orderkey = l.l_orderkey
             AND l.l_linenumber = mx.maxline
      GROUP BY l.l_orderkey
    ),
    opens AS (
      SELECT l_orderkey,
             SUM(l_quantity) AS oq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(5,2))) AS onet,
             MIN(l_shipdate) AS oship,
             MAX(l_linestatus) AS ostatus
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    audit AS (
      SELECT 'ts_' || CAST(o_orderkey AS VARCHAR) AS aud_id,
             ROUND(CAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)) AS BIGINT)
                        % 97 AS DOUBLE) * 3 / 97, 6) AS snr,
             CAST(1 + o_orderkey % 5 AS BIGINT) AS forecast_horizon,
             CASE o_orderpriority WHEN '1-URGENT' THEN 'TRENDING'
                  WHEN '2-HIGH' THEN 'VOLATILE'
                  WHEN '3-MEDIUM' THEN 'NEUTRAL' END AS regime,
             ROUND(CAST(o_totalprice AS DOUBLE) / 100
                   * (CAST(104 AS DOUBLE) / 100), 6) AS target_price,
             ROUND(CAST(o_totalprice AS DOUBLE) / 100
                   * (CAST(97 AS DOUBLE) / 100), 6) AS stop_loss,
             CASE WHEN o_orderkey % 3 <> 0
                  THEN ROUND(CAST(o_orderkey % 41 - 20 AS DOUBLE) / 205, 6)
                  END AS expected_return
      FROM orders WHERE o_orderkey % 4 = 0
    ),
    rawt AS (
      SELECT c.l_orderkey AS close_id,
             'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             CASE WHEN op.ostatus = 'O' THEN 'BUY' ELSE 'SELL' END
               AS forecast_direction,
             CASE WHEN c.ctax < 0.015 THEN 'STOP_LOSS'
                  WHEN c.ctax < 0.045 THEN 'TAKE_PROFIT'
                  WHEN c.ctax < 0.075 THEN 'SIGNAL_EXIT'
                  ELSE '' END AS exit_reason,
             ROUND(CAST(c.cnet - op.onet AS DOUBLE), 6) AS pnl,
             ROUND(CAST(op.onet AS DOUBLE) / op.oq, 6) AS entry_price,
             ROUND(CAST(c.cnet AS DOUBLE) / c.cq, 6) AS exit_price,
             CAST(op.oship AS DATE) AS entry_d,
             CAST(c.cship AS DATE) AS close_d,
             CAST(DATEDIFF('day', CAST(op.oship AS DATE),
                           CAST(c.cship AS DATE)) AS BIGINT) AS holding_days,
             CASE WHEN c.l_orderkey % 2 = 0
                    THEN 'ts_' || CAST(c.l_orderkey AS VARCHAR)
                  WHEN c.l_orderkey % 5 = 0
                    THEN 'llm_' || CAST(c.l_orderkey AS VARCHAR) END
               AS ts_signal_id
      FROM closes c
      JOIN opens op ON op.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND op.oq > 0 AND c.cq > 0
    ),
    rec AS (
      SELECT r.*,
             a.aud_id IS NOT NULL AS outcome_linked,
             a.snr, a.forecast_horizon, a.regime, a.target_price,
             a.stop_loss, a.expected_return,
             CASE WHEN ABS(r.exit_price - r.entry_price) < 1e-9 THEN 'FLAT'
                  WHEN r.exit_price > r.entry_price THEN 'UP'
                  ELSE 'DOWN' END AS realized_direction,
             r.close_d < r.entry_d AS causality_violation,
             r.exit_reason = '' AS missing_exit_reason
      FROM rawt r LEFT JOIN audit a ON a.aud_id = r.ts_signal_id
    ),
    rec2 AS (
      SELECT *,
             causality_violation OR missing_exit_reason AS integrity_blocking,
             CASE WHEN realized_direction = 'FLAT' THEN FALSE
                  ELSE (forecast_direction = 'BUY'
                        AND realized_direction = 'UP')
                    OR (forecast_direction = 'SELL'
                        AND realized_direction = 'DOWN') END
               AS direction_match,
             exit_reason = 'TAKE_PROFIT' AS take_profit_hit,
             CASE WHEN outcome_linked
                       AND ABS(entry_price - stop_loss) > 1e-9
                  THEN ROUND(ABS(target_price - entry_price)
                             / ABS(entry_price - stop_loss), 6)
                  END AS rr_ratio,
             CASE WHEN outcome_linked AND ABS(entry_price) > 1e-9
                  THEN ROUND(ABS(target_price - entry_price)
                             / ABS(entry_price), 6)
                  END AS target_amplitude_fraction
      FROM rec
    ),
    rec3 AS (
      SELECT *,
             direction_match AND pnl < 0 AS correct_direction_negative_pnl,
             CASE WHEN target_amplitude_fraction IS NOT NULL
                       AND expected_return IS NOT NULL
                  THEN CAST(ABS(expected_return)
                            >= target_amplitude_fraction AS BIGINT)
                  END AS target_amplitude_hit,
             outcome_linked AND NOT integrity_blocking AS in_analysis,
             COALESCE(SUBSTR(ts_signal_id, 1, 3) = 'ts_', FALSE)
               AS is_ts_trade
      FROM rec2
    ),
    med AS (
      SELECT QUANTILE_CONT(holding_days, 0.5) AS tp_med_raw,
             CAST(FLOOR(QUANTILE_CONT(holding_days, 0.5)) AS BIGINT)
               AS tp_med,
             CAST(COUNT(*) AS BIGINT) AS tp_med_support
      FROM rec3 WHERE in_analysis AND take_profit_hit
    ),
    rec4 AS (
      SELECT r.*, m.tp_med_raw, m.tp_med, m.tp_med_support,
             COALESCE(r.in_analysis AND r.take_profit_hit
                      AND m.tp_med IS NOT NULL
                      AND r.holding_days <= m.tp_med, FALSE)
               AS fast_take_profit_hit
      FROM rec3 r CROSS JOIN med m
    ),
    usable AS (
      SELECT close_id, snr, ts_signal_id,
             CAST(ROW_NUMBER() OVER (ORDER BY snr, ts_signal_id) AS BIGINT)
               - 1 AS idx,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_usable
      FROM rec4 WHERE in_analysis AND snr IS NOT NULL
    ),
    bins AS (
      SELECT close_id,
             'snr_tercile_' || CAST(1 + (idx * 3) // n_usable AS VARCHAR)
               AS snr_tercile
      FROM usable
    ),
    recf AS (
      SELECT r.*, b.snr_tercile
      FROM rec4 r LEFT JOIN bins b ON b.close_id = r.close_id
    )
"""


@session_frame_cache
def _ola_recf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared attribution record frame (the ``recf`` CTE of `_OLA_SQL`)."""
    o = load_table(spark, sf_dir, "orders")
    audit = o.filter(F.col("o_orderkey") % 4 == 0).select(
        F.concat(F.lit("ts_"), F.col("o_orderkey").cast("string")).alias(
            "aud_id"
        ),
        r6(
            F.expr(
                "CAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)) AS BIGINT)"
                " % 97 AS DOUBLE) * 3 / 97"
            )
        ).alias("snr"),
        (F.lit(1) + F.col("o_orderkey") % 5).cast("bigint").alias(
            "forecast_horizon"
        ),
        F.when(F.col("o_orderpriority") == "1-URGENT", "TRENDING")
        .when(F.col("o_orderpriority") == "2-HIGH", "VOLATILE")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "NEUTRAL")
        .alias("regime"),
        r6(
            F.col("o_totalprice").cast("double")
            / 100
            * (F.lit(104).cast("double") / 100)
        ).alias("target_price"),
        r6(
            F.col("o_totalprice").cast("double")
            / 100
            * (F.lit(97).cast("double") / 100)
        ).alias("stop_loss"),
        F.when(
            F.col("o_orderkey") % 3 != 0,
            r6((F.col("o_orderkey") % 41 - 20).cast("double") / 205),
        ).alias("expected_return"),
    )
    key = F.col("c.l_orderkey")
    rawt = (
        # decimal-exact net so the exposed price quotients are bit-identical
        # to the oracle (SURVEY §7.3 item 6: money sums in DECIMAL)
        _closed_trades(spark, sf_dir, decimal_net=True)
        .select(
            key.alias("close_id"),
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string"))
            .alias("ticker"),
            F.when(F.col("ostatus") == "O", "BUY")
            .otherwise("SELL")
            .alias("forecast_direction"),
            F.when(F.col("ctax") < 0.015, "STOP_LOSS")
            .when(F.col("ctax") < 0.045, "TAKE_PROFIT")
            .when(F.col("ctax") < 0.075, "SIGNAL_EXIT")
            .otherwise("")
            .alias("exit_reason"),
            F.round((F.col("cnet") - F.col("onet")).cast("double"), 6).alias(
                "pnl"
            ),
            r6(F.col("onet").cast("double") / F.col("oq")).alias(
                "entry_price"
            ),
            r6(F.col("cnet").cast("double") / F.col("cq")).alias(
                "exit_price"
            ),
            F.to_date("oship").alias("entry_d"),
            F.to_date("cship").alias("close_d"),
            F.datediff(F.to_date("cship"), F.to_date("oship"))
            .cast("bigint")
            .alias("holding_days"),
            F.when(
                key % 2 == 0,
                F.concat(F.lit("ts_"), key.cast("string")),
            )
            .when(
                key % 5 == 0,
                F.concat(F.lit("llm_"), key.cast("string")),
            )
            .alias("ts_signal_id"),
        )
    )
    pdiff = F.col("exit_price") - F.col("entry_price")
    rec = (
        rawt.join(audit, rawt.ts_signal_id == audit.aud_id, "left")
        .withColumn("outcome_linked", F.col("aud_id").isNotNull())
        .withColumn(
            "realized_direction",
            F.when(F.abs(pdiff) < 1e-9, "FLAT")
            .when(pdiff > 0, "UP")
            .otherwise("DOWN"),
        )
        .withColumn("causality_violation", F.col("close_d") < F.col("entry_d"))
        .withColumn("missing_exit_reason", F.col("exit_reason") == "")
        .drop("aud_id")
    )
    rec2 = (
        rec.withColumn(
            "integrity_blocking",
            F.col("causality_violation") | F.col("missing_exit_reason"),
        )
        .withColumn(
            "direction_match",
            F.when(F.col("realized_direction") == "FLAT", F.lit(False)).otherwise(
                (
                    (F.col("forecast_direction") == "BUY")
                    & (F.col("realized_direction") == "UP")
                )
                | (
                    (F.col("forecast_direction") == "SELL")
                    & (F.col("realized_direction") == "DOWN")
                )
            ),
        )
        .withColumn("take_profit_hit", F.col("exit_reason") == "TAKE_PROFIT")
        .withColumn(
            "rr_ratio",
            F.when(
                F.col("outcome_linked")
                & (F.abs(F.col("entry_price") - F.col("stop_loss")) > 1e-9),
                r6(
                    F.abs(F.col("target_price") - F.col("entry_price"))
                    / F.abs(F.col("entry_price") - F.col("stop_loss"))
                ),
            ),
        )
        .withColumn(
            "target_amplitude_fraction",
            F.when(
                F.col("outcome_linked") & (F.abs(F.col("entry_price")) > 1e-9),
                r6(
                    F.abs(F.col("target_price") - F.col("entry_price"))
                    / F.abs(F.col("entry_price"))
                ),
            ),
        )
    )
    rec3 = (
        rec2.withColumn(
            "correct_direction_negative_pnl",
            F.col("direction_match") & (F.col("pnl") < 0),
        )
        .withColumn(
            "target_amplitude_hit",
            F.when(
                F.col("target_amplitude_fraction").isNotNull()
                & F.col("expected_return").isNotNull(),
                (
                    F.abs(F.col("expected_return"))
                    >= F.col("target_amplitude_fraction")
                ).cast("bigint"),
            ),
        )
        .withColumn(
            "in_analysis",
            F.col("outcome_linked") & ~F.col("integrity_blocking"),
        )
        .withColumn(
            "is_ts_trade",
            F.coalesce(
                F.substring(F.col("ts_signal_id"), 1, 3) == "ts_",
                F.lit(False),
            ),
        )
        # one materialization feeds the median scalar, the tercile window
        # and every downstream consumer (the ledger-frame pattern)
        .localCheckpoint()
    )
    med = rec3.filter(F.col("in_analysis") & F.col("take_profit_hit")).agg(
        F.expr("percentile(holding_days, 0.5)").alias("tp_med_raw"),
        F.floor(F.expr("percentile(holding_days, 0.5)"))
        .cast("bigint")
        .alias("tp_med"),
        F.count(F.lit(1)).cast("bigint").alias("tp_med_support"),
    )
    rec4 = rec3.crossJoin(F.broadcast(med)).withColumn(
        "fast_take_profit_hit",
        F.coalesce(
            F.col("in_analysis")
            & F.col("take_profit_hit")
            & F.col("tp_med").isNotNull()
            & (F.col("holding_days") <= F.col("tp_med")),
            F.lit(False),
        ),
    )
    usable = rec4.filter(
        F.col("in_analysis") & F.col("snr").isNotNull()
    ).select("close_id", "snr", "ts_signal_id")
    nrow = usable.agg(F.count(F.lit(1)).cast("bigint").alias("n_usable"))
    wbin = Window.orderBy("snr", "ts_signal_id")
    bins = (
        usable.withColumn(
            "idx", F.row_number().over(wbin).cast("bigint") - 1
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "close_id",
            F.concat(
                F.lit("snr_tercile_"),
                (F.expr("(idx * 3) div n_usable") + 1).cast("string"),
            ).alias("snr_tercile"),
        )
    )
    # 4 member queries share this frame via the session memo but each
    # still executed the full build at its action; materialize once
    # (trades-grain; optimization round 12, guide §2.4)
    return rec4.join(bins, "close_id", "left").localCheckpoint(eager=False)


@query(
    "outcome_linkage_attribution",
    oracle=f"""
    {_OLA_SQL}
    SELECT close_id, ticker, ts_signal_id, regime, forecast_direction,
           realized_direction, direction_match,
           correct_direction_negative_pnl, outcome_linked, exit_reason,
           pnl, holding_days, entry_price, exit_price, target_price,
           stop_loss, expected_return, forecast_horizon, rr_ratio, snr,
           snr_tercile, take_profit_hit, fast_take_profit_hit,
           target_amplitude_fraction, target_amplitude_hit,
           CASE WHEN integrity_blocking THEN 'HIGH' ELSE 'OK' END
             AS integrity_status,
           integrity_blocking, causality_violation, missing_exit_reason,
           is_ts_trade,
           NOT integrity_blocking AS counts_toward_readiness_denominator,
           in_analysis AS counts_toward_linkage_denominator
    FROM recf
    """,
)
def outcome_linkage_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-grain closed-trade attribution with forecast linkage —
    reference `scripts/outcome_linkage_attribution_report.py:195-295`
    (`build_report` record loop): direction match vs realized move,
    correct-direction-negative-PnL, CAUSALITY_VIOLATION /
    MISSING_EXIT_REASON integrity reasons with the readiness/linkage
    denominator flags (`:282-294`), rr_ratio from signal target/stop vs
    trade entry (`:240-247`), take-profit + fast-take-profit (holding <=
    floor(median TP holding), `:306-318`) and the equal-frequency SNR
    tercile label (`:128-149`: global (snr, ts_signal_id) rank,
    bin = idx*3 div n).

    Scale: lot aggregations + equi-joins shuffle once on orderkey; the
    audit join is an equi-join on the signal id. The only global sort is
    the tercile rank over the AUDIT-LINKED analysis cohort — bounded by
    audit volume, not corpus size (at 100 TB swap in approx-quantile
    cuts; the reference semantics is itself a global sort). The fast-TP
    median and bin count are broadcast one-row scalars."""
    recf = _ola_recf(spark, sf_dir)
    return recf.select(
        "close_id",
        "ticker",
        "ts_signal_id",
        "regime",
        "forecast_direction",
        "realized_direction",
        "direction_match",
        "correct_direction_negative_pnl",
        "outcome_linked",
        "exit_reason",
        "pnl",
        "holding_days",
        "entry_price",
        "exit_price",
        "target_price",
        "stop_loss",
        "expected_return",
        "forecast_horizon",
        "rr_ratio",
        "snr",
        "snr_tercile",
        "take_profit_hit",
        "fast_take_profit_hit",
        "target_amplitude_fraction",
        "target_amplitude_hit",
        F.when(F.col("integrity_blocking"), "HIGH")
        .otherwise("OK")
        .alias("integrity_status"),
        "integrity_blocking",
        "causality_violation",
        "missing_exit_reason",
        "is_ts_trade",
        (~F.col("integrity_blocking")).alias(
            "counts_toward_readiness_denominator"
        ),
        F.col("in_analysis").alias("counts_toward_linkage_denominator"),
    )


@query(
    "attribution_snr_terciles",
    oracle=f"""
    {_OLA_SQL}
    , tstats AS (
      SELECT snr_tercile AS bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             MIN(snr) AS snr_min, MAX(snr) AS snr_max,
             CAST(SUM(CASE WHEN take_profit_hit THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp_successes,
             CAST(SUM(CASE WHEN fast_take_profit_hit THEN 1 ELSE 0 END)
                  AS BIGINT) AS fast_successes
      FROM recf WHERE snr_tercile IS NOT NULL
      GROUP BY snr_tercile
    ),
    post AS (
      SELECT bin, n, snr_min, snr_max,
             tp_successes, n - tp_successes AS tp_failures,
             fast_successes, n - fast_successes AS fast_failures,
             CAST(tp_successes + 1 AS DOUBLE) AS ta,
             CAST(n - tp_successes + 1 AS DOUBLE) AS tb,
             CAST(fast_successes + 1 AS DOUBLE) AS fa,
             CAST(n - fast_successes + 1 AS DOUBLE) AS fb
      FROM tstats
    ),
    post2 AS (
      SELECT *,
             ta / (ta + tb) AS tmean,
             SQRT((ta * tb) / (((ta + tb) * (ta + tb)) * (ta + tb + 1)))
               AS tsd,
             fa / (fa + fb) AS fmean,
             SQRT((fa * fb) / (((fa + fb) * (fa + fb)) * (fa + fb + 1)))
               AS fsd
      FROM post
    )
    SELECT bin, n, ROUND(snr_min, 6) AS snr_min,
           ROUND(snr_max, 6) AS snr_max,
           CASE WHEN n < 5 THEN 'low_sample' ELSE 'supported' END
             AS reliability,
           CAST(5 AS BIGINT) AS reliability_support_threshold,
           tp_successes, tp_failures,
           ROUND(tmean, 6) AS tp_posterior_mean,
           ROUND(GREATEST(CAST(0 AS DOUBLE),
                 tmean - CAST(1.959963984540054 AS DOUBLE) * tsd), 6)
             AS tp_ci_lo,
           ROUND(LEAST(CAST(1 AS DOUBLE),
                 tmean + CAST(1.959963984540054 AS DOUBLE) * tsd), 6)
             AS tp_ci_hi,
           fast_successes, fast_failures,
           ROUND(fmean, 6) AS fast_posterior_mean,
           ROUND(GREATEST(CAST(0 AS DOUBLE),
                 fmean - CAST(1.959963984540054 AS DOUBLE) * fsd), 6)
             AS fast_ci_lo,
           ROUND(LEAST(CAST(1 AS DOUBLE),
                 fmean + CAST(1.959963984540054 AS DOUBLE) * fsd), 6)
             AS fast_ci_hi
    FROM post2
    """,
)
def attribution_snr_terciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency SNR terciles with beta-binomial take-profit
    posteriors — reference
    `scripts/outcome_linkage_attribution_report.py:106-149,330-351`:
    per-bin (successes+1, failures+1) posterior, mean and 95% interval.
    The interval is the reference's documented no-scipy fallback branch
    (`:120-127`: normal approximation on the posterior sd, clamped to
    [0,1]) — same environment-forced path the reference ships without
    scipy; this container has no scipy either.

    Scale: the tercile label is computed once in the shared frame; this
    is a 3-row bounded groupBy with closed-form posterior arithmetic."""
    recf = _ola_recf(spark, sf_dir)
    z = F.lit(_OLA_Z975)
    t = (
        recf.filter(F.col("snr_tercile").isNotNull())
        .groupBy(F.col("snr_tercile").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("snr").alias("snr_min"),
            F.max("snr").alias("snr_max"),
            F.sum(F.col("take_profit_hit").cast("long"))
            .cast("bigint")
            .alias("tp_successes"),
            F.sum(F.col("fast_take_profit_hit").cast("long"))
            .cast("bigint")
            .alias("fast_successes"),
        )
    )
    ta = (F.col("tp_successes") + 1).cast("double")
    tb = (F.col("n") - F.col("tp_successes") + 1).cast("double")
    fa = (F.col("fast_successes") + 1).cast("double")
    fb = (F.col("n") - F.col("fast_successes") + 1).cast("double")
    tmean = ta / (ta + tb)
    tsd = F.sqrt((ta * tb) / (((ta + tb) * (ta + tb)) * (ta + tb + 1)))
    fmean = fa / (fa + fb)
    fsd = F.sqrt((fa * fb) / (((fa + fb) * (fa + fb)) * (fa + fb + 1)))
    return t.select(
        "bin",
        "n",
        r6(F.col("snr_min")).alias("snr_min"),
        r6(F.col("snr_max")).alias("snr_max"),
        F.when(F.col("n") < 5, "low_sample")
        .otherwise("supported")
        .alias("reliability"),
        F.lit(5).cast("bigint").alias("reliability_support_threshold"),
        "tp_successes",
        (F.col("n") - F.col("tp_successes")).alias("tp_failures"),
        r6(tmean).alias("tp_posterior_mean"),
        r6(F.greatest(F.lit(0.0), tmean - z * tsd)).alias("tp_ci_lo"),
        r6(F.least(F.lit(1.0), tmean + z * tsd)).alias("tp_ci_hi"),
        "fast_successes",
        (F.col("n") - F.col("fast_successes")).alias("fast_failures"),
        r6(fmean).alias("fast_posterior_mean"),
        r6(F.greatest(F.lit(0.0), fmean - z * fsd)).alias("fast_ci_lo"),
        r6(F.least(F.lit(1.0), fmean + z * fsd)).alias("fast_ci_hi"),
    )


@query(
    "attribution_linkage_summary",
    oracle=f"""
    {_OLA_SQL}
    , s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_closed_trades,
             CAST(SUM(CASE WHEN outcome_linked THEN 1 ELSE 0 END)
                  AS BIGINT) AS linked_closed_trades,
             CAST(SUM(CASE WHEN in_analysis THEN 1 ELSE 0 END)
                  AS BIGINT) AS analysis_closed_trades,
             CAST(SUM(CASE WHEN is_ts_trade THEN 1 ELSE 0 END)
                  AS BIGINT) AS total_ts_trades,
             CAST(SUM(CASE WHEN is_ts_trade AND outcome_linked
                      THEN 1 ELSE 0 END) AS BIGINT) AS linked_ts_trades,
             CAST(SUM(CASE WHEN in_analysis AND take_profit_hit
                      THEN 1 ELSE 0 END) AS BIGINT) AS take_profit_count,
             CAST(SUM(CASE WHEN fast_take_profit_hit THEN 1 ELSE 0 END)
                  AS BIGINT) AS fast_take_profit_count,
             CAST(SUM(CASE WHEN in_analysis
                           AND LOWER(exit_reason) LIKE 'stop%'
                      THEN 1 ELSE 0 END) AS BIGINT) AS all_stop_loss_count,
             CAST(SUM(CASE WHEN causality_violation THEN 1 ELSE 0 END)
                  AS BIGINT) AS close_before_entry_count,
             CAST(SUM(CASE WHEN missing_exit_reason THEN 1 ELSE 0 END)
                  AS BIGINT) AS closed_missing_exit_reason_count,
             CAST(SUM(CASE WHEN integrity_blocking THEN 1 ELSE 0 END)
                  AS BIGINT) AS readiness_denominator_exclusion_count,
             CAST(SUM(CASE WHEN in_analysis AND take_profit_hit
                           AND pnl > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tp_support_count,
             AVG(CASE WHEN in_analysis AND take_profit_hit AND pnl > 0
                      THEN pnl END) AS tp_avg_raw,
             AVG(CASE WHEN in_analysis
                      AND LOWER(exit_reason) LIKE 'stop%'
                      THEN ABS(pnl) END) AS stop_avg_raw,
             MAX(tp_med_raw) AS tp_med_raw,
             MAX(tp_med_support) AS tp_med_support
      FROM recf
    ),
    s2 AS (
      SELECT *,
             CASE WHEN analysis_closed_trades > 0
                  THEN CAST(take_profit_count AS DOUBLE)
                       / analysis_closed_trades
                  ELSE CAST(0 AS DOUBLE) END AS tp_rate_raw,
             GREATEST(CAST(0 AS BIGINT), 30 - take_profit_count)
               AS multiway_table_tp_needed,
             tp_avg_raw IS NOT NULL AND stop_avg_raw IS NOT NULL
               AND tp_support_count >= 5 AND all_stop_loss_count >= 5
               AS threshold_observed
      FROM s
    )
    SELECT total_closed_trades, linked_closed_trades,
           ROUND(CAST(linked_closed_trades AS DOUBLE)
                 / total_closed_trades, 6) AS linked_trade_ratio,
           analysis_closed_trades,
           ROUND(CAST(analysis_closed_trades AS DOUBLE)
                 / total_closed_trades, 6) AS analysis_trade_ratio,
           total_ts_trades, linked_ts_trades,
           CASE WHEN total_ts_trades > 0
                THEN ROUND(CAST(linked_ts_trades AS DOUBLE)
                           / total_ts_trades, 6)
                ELSE CAST(0 AS DOUBLE) END AS ts_trade_coverage,
           take_profit_count,
           ROUND(tp_rate_raw, 6) AS take_profit_rate,
           fast_take_profit_count,
           CASE WHEN analysis_closed_trades > 0
                THEN ROUND(CAST(fast_take_profit_count AS DOUBLE)
                           / analysis_closed_trades, 6)
                ELSE CAST(0 AS DOUBLE) END AS fast_take_profit_rate,
           ROUND(tp_med_raw, 6) AS median_tp_holding,
           tp_med_support >= 10 AS fast_take_profit_median_reliable,
           tp_med_support AS fast_take_profit_median_support,
           ROUND(tp_avg_raw, 6) AS tp_avg_pnl,
           ROUND(stop_avg_raw, 6) AS stop_avg_pnl,
           CASE WHEN threshold_observed
                     AND (tp_avg_raw + stop_avg_raw) > 0
                THEN ROUND(stop_avg_raw / (tp_avg_raw + stop_avg_raw), 6)
                ELSE ROUND(CAST(15 AS DOUBLE) / 100, 6) END
             AS take_profit_filter_threshold,
           CASE WHEN threshold_observed THEN 'observed'
                ELSE 'fallback_0.15' END
             AS take_profit_filter_threshold_source,
           tp_support_count AS threshold_tp_support,
           all_stop_loss_count AS threshold_stop_support,
           CASE WHEN take_profit_count >= 30 THEN 'VISIBLE'
                ELSE 'HIDDEN_UNTIL_SUPPORT' END AS multiway_table_status,
           multiway_table_tp_needed,
           CASE WHEN tp_rate_raw > 0
                THEN ROUND(CAST(multiway_table_tp_needed AS DOUBLE)
                           / tp_rate_raw, 2) END
             AS multiway_table_estimated_trading_days,
           all_stop_loss_count,
           ROUND(CAST(all_stop_loss_count AS DOUBLE)
                 / total_closed_trades, 6) AS all_stop_loss_rate,
           close_before_entry_count, closed_missing_exit_reason_count,
           close_before_entry_count + closed_missing_exit_reason_count
             AS high_integrity_violation_count,
           readiness_denominator_exclusion_count
    FROM s2
    """,
)
def attribution_linkage_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row attribution summary — reference
    `scripts/outcome_linkage_attribution_report.py:392-446` (`summary`
    block): linkage/analysis coverage ratios, ts-trade coverage,
    take-profit and fast-take-profit rates, the observed-vs-fallback
    take-profit filter threshold ladder (`:412-419`: observed =
    stop_avg/(tp_avg+stop_avg) when both sides have >=5 supporting
    trades, else the 0.15 fallback), the multiway-table visibility gate
    with its estimated-days-to-support projection (`:355-361`), and the
    integrity-violation census.

    Scale: one aggregation pass over the shared record frame plus the
    broadcast fast-TP median scalars; everything downstream is scalar
    arithmetic on a single row."""
    recf = _ola_recf(spark, sf_dir)
    b = lambda c: F.sum(c.cast("long")).cast("bigint")  # noqa: E731
    stop_hit = F.lower(F.col("exit_reason")).startswith("stop")
    s = recf.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_closed_trades"),
        b(F.col("outcome_linked")).alias("linked_closed_trades"),
        b(F.col("in_analysis")).alias("analysis_closed_trades"),
        b(F.col("is_ts_trade")).alias("total_ts_trades"),
        b(F.col("is_ts_trade") & F.col("outcome_linked")).alias(
            "linked_ts_trades"
        ),
        b(F.col("in_analysis") & F.col("take_profit_hit")).alias(
            "take_profit_count"
        ),
        b(F.col("fast_take_profit_hit")).alias("fast_take_profit_count"),
        b(F.col("in_analysis") & stop_hit).alias("all_stop_loss_count"),
        b(F.col("causality_violation")).alias("close_before_entry_count"),
        b(F.col("missing_exit_reason")).alias(
            "closed_missing_exit_reason_count"
        ),
        b(F.col("integrity_blocking")).alias(
            "readiness_denominator_exclusion_count"
        ),
        b(
            F.col("in_analysis")
            & F.col("take_profit_hit")
            & (F.col("pnl") > 0)
        ).alias("tp_support_count"),
        F.avg(
            F.when(
                F.col("in_analysis")
                & F.col("take_profit_hit")
                & (F.col("pnl") > 0),
                F.col("pnl"),
            )
        ).alias("tp_avg_raw"),
        F.avg(
            F.when(F.col("in_analysis") & stop_hit, F.abs(F.col("pnl")))
        ).alias("stop_avg_raw"),
        F.max("tp_med_raw").alias("tp_med_raw"),
        F.max("tp_med_support").alias("tp_med_support"),
    )
    tp_rate_raw = F.when(
        F.col("analysis_closed_trades") > 0,
        F.col("take_profit_count").cast("double")
        / F.col("analysis_closed_trades"),
    ).otherwise(F.lit(0.0))
    needed = F.greatest(
        F.lit(0).cast("bigint"),
        (F.lit(30) - F.col("take_profit_count")).cast("bigint"),
    )
    observed = (
        F.col("tp_avg_raw").isNotNull()
        & F.col("stop_avg_raw").isNotNull()
        & (F.col("tp_support_count") >= 5)
        & (F.col("all_stop_loss_count") >= 5)
    )
    s2 = s.select(
        "*",
        tp_rate_raw.alias("tp_rate_raw"),
        needed.alias("multiway_table_tp_needed"),
        observed.alias("threshold_observed"),
    )
    return s2.select(
        "total_closed_trades",
        "linked_closed_trades",
        r6(
            F.col("linked_closed_trades").cast("double")
            / F.col("total_closed_trades")
        ).alias("linked_trade_ratio"),
        "analysis_closed_trades",
        r6(
            F.col("analysis_closed_trades").cast("double")
            / F.col("total_closed_trades")
        ).alias("analysis_trade_ratio"),
        "total_ts_trades",
        "linked_ts_trades",
        F.when(
            F.col("total_ts_trades") > 0,
            r6(
                F.col("linked_ts_trades").cast("double")
                / F.col("total_ts_trades")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("ts_trade_coverage"),
        "take_profit_count",
        r6(F.col("tp_rate_raw")).alias("take_profit_rate"),
        "fast_take_profit_count",
        F.when(
            F.col("analysis_closed_trades") > 0,
            r6(
                F.col("fast_take_profit_count").cast("double")
                / F.col("analysis_closed_trades")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("fast_take_profit_rate"),
        r6(F.col("tp_med_raw")).alias("median_tp_holding"),
        (F.col("tp_med_support") >= 10).alias(
            "fast_take_profit_median_reliable"
        ),
        F.col("tp_med_support").alias("fast_take_profit_median_support"),
        r6(F.col("tp_avg_raw")).alias("tp_avg_pnl"),
        r6(F.col("stop_avg_raw")).alias("stop_avg_pnl"),
        F.when(
            F.col("threshold_observed")
            & ((F.col("tp_avg_raw") + F.col("stop_avg_raw")) > 0),
            r6(
                F.col("stop_avg_raw")
                / (F.col("tp_avg_raw") + F.col("stop_avg_raw"))
            ),
        )
        .otherwise(r6(F.lit(15).cast("double") / 100))
        .alias("take_profit_filter_threshold"),
        F.when(F.col("threshold_observed"), "observed")
        .otherwise("fallback_0.15")
        .alias("take_profit_filter_threshold_source"),
        F.col("tp_support_count").alias("threshold_tp_support"),
        F.col("all_stop_loss_count").alias("threshold_stop_support"),
        F.when(F.col("take_profit_count") >= 30, "VISIBLE")
        .otherwise("HIDDEN_UNTIL_SUPPORT")
        .alias("multiway_table_status"),
        "multiway_table_tp_needed",
        F.when(
            F.col("tp_rate_raw") > 0,
            F.round(
                F.col("multiway_table_tp_needed").cast("double")
                / F.col("tp_rate_raw"),
                2,
            ),
        ).alias("multiway_table_estimated_trading_days"),
        "all_stop_loss_count",
        r6(
            F.col("all_stop_loss_count").cast("double")
            / F.col("total_closed_trades")
        ).alias("all_stop_loss_rate"),
        "close_before_entry_count",
        "closed_missing_exit_reason_count",
        (
            F.col("close_before_entry_count")
            + F.col("closed_missing_exit_reason_count")
        ).alias("high_integrity_violation_count"),
        "readiness_denominator_exclusion_count",
    )


@query(
    "attribution_multiway_table",
    oracle=f"""
    {_OLA_SQL}
    , medsnr AS (
      SELECT AVG(snr) AS snr_med FROM usable
      WHERE idx + 1 IN ((n_usable + 1) // 2, (n_usable + 2) // 2)
    ),
    gate AS (
      SELECT CAST(SUM(CASE WHEN in_analysis AND take_profit_hit
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp_cnt
      FROM recf
    )
    SELECT CASE WHEN m.snr_med IS NOT NULL AND r.snr >= m.snr_med
                THEN 'high' ELSE 'low' END AS snr_side,
           CASE WHEN r.rr_ratio >= CAST(2 AS DOUBLE)
                THEN 'high' ELSE 'low' END AS rr_side,
           COALESCE(r.regime, 'UNKNOWN') AS regime,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN r.take_profit_hit THEN 1 ELSE 0 END)
                AS BIGINT) AS take_profit,
           CAST(SUM(CASE WHEN r.fast_take_profit_hit THEN 1 ELSE 0 END)
                AS BIGINT) AS fast_take_profit,
           ROUND(CAST(SUM(CASE WHEN r.take_profit_hit THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS take_profit_rate,
           ROUND(CAST(SUM(CASE WHEN r.fast_take_profit_hit
                          THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS fast_take_profit_rate
    FROM recf r CROSS JOIN medsnr m CROSS JOIN gate g
    WHERE r.in_analysis AND r.snr IS NOT NULL AND r.rr_ratio IS NOT NULL
      AND g.tp_cnt >= 30
    GROUP BY 1, 2, 3
    """,
)
def attribution_multiway_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiway (snr-side x rr-side x regime) take-profit table —
    reference `scripts/outcome_linkage_attribution_report.py:352-390`:
    hidden until >=30 linked take-profit records (the gate empties the
    result below support, mirroring `multiway_table_status`), splits on
    the SNR median and the rr>=2.0 threshold, regime NULL folded to
    UNKNOWN. The SNR median is the exact rank-midpoint average (the
    reference's `statistics.median`), computed identically on both
    sides rather than by interpolated-percentile so a record whose SNR
    equals the cut lands on the same side in Spark and the oracle.

    Scale: the median picks two rows by global rank over the linked
    cohort (audit-bounded); cells are a bounded 2x2xR groupBy; the gate
    and median are broadcast one-row scalars."""
    recf = _ola_recf(spark, sf_dir)
    usable = recf.filter(
        F.col("in_analysis") & F.col("snr").isNotNull()
    ).select("close_id", "snr", "ts_signal_id")
    nrow = usable.agg(F.count(F.lit(1)).cast("bigint").alias("n_usable"))
    wbin = Window.orderBy("snr", "ts_signal_id")
    medsnr = (
        usable.withColumn("rn", F.row_number().over(wbin).cast("bigint"))
        .crossJoin(F.broadcast(nrow))
        .filter(
            (F.col("rn") == F.expr("(n_usable + 1) div 2"))
            | (F.col("rn") == F.expr("(n_usable + 2) div 2"))
        )
        .agg(F.avg("snr").alias("snr_med"))
    )
    gate = recf.agg(
        F.sum((F.col("in_analysis") & F.col("take_profit_hit")).cast("long"))
        .cast("bigint")
        .alias("tp_cnt")
    )
    return (
        recf.filter(
            F.col("in_analysis")
            & F.col("snr").isNotNull()
            & F.col("rr_ratio").isNotNull()
        )
        .crossJoin(F.broadcast(medsnr))
        .crossJoin(F.broadcast(gate))
        .filter(F.col("tp_cnt") >= 30)
        .groupBy(
            F.when(
                F.col("snr_med").isNotNull()
                & (F.col("snr") >= F.col("snr_med")),
                "high",
            )
            .otherwise("low")
            .alias("snr_side"),
            F.when(F.col("rr_ratio") >= F.lit(2).cast("double"), "high")
            .otherwise("low")
            .alias("rr_side"),
            F.coalesce(F.col("regime"), F.lit("UNKNOWN")).alias("regime"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("take_profit_hit").cast("long"))
            .cast("bigint")
            .alias("take_profit"),
            F.sum(F.col("fast_take_profit_hit").cast("long"))
            .cast("bigint")
            .alias("fast_take_profit"),
        )
        .select(
            "snr_side",
            "rr_side",
            "regime",
            "n",
            "take_profit",
            "fast_take_profit",
            r6(F.col("take_profit").cast("double") / F.col("n")).alias(
                "take_profit_rate"
            ),
            r6(F.col("fast_take_profit").cast("double") / F.col("n")).alias(
                "fast_take_profit_rate"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Training-dataset curation: fail-closed eligibility gating + exclusion
# censuses over the trades and forecast-audit frames
# ---------------------------------------------------------------------------

# Reference `scripts/build_training_dataset.py`: eligibility-state ladder
# (`:42-63`: HEALTHY-only set; an eligibility source that explicitly yields
# ZERO healthy tickers fails CLOSED — empty outputs, never include-all),
# the production-closed-trades curation with date-cutoff and healthy-ticker
# exclusion censuses (`:75-135`: confidence = COALESCE(base_confidence,
# confidence_calibrated, effective_confidence)), the forecast-audit frame
# with format/date/ticker exclusions and the ensemble-vs-best-single
# rmse_ratio (`:137-205`), and the summary block with the
# low-ticker-diversity warning and PASS/WARN status fold (`:206-290`).
# The healthy set composes this pack's `ticker_eligibility_classification`
# (reference `compute_ticker_eligibility.py`) — same status ladder, same
# constants — so curation consumes the eligibility artifact exactly as the
# reference pipeline does.
_TCU_MIN_DATE = "1995-06-01"  # PHASE_715F_CUTOFF equivalent (`:40`)

_TCU_SQL = f"""
    , healthy AS (
      SELECT ticker FROM cls
      WHERE ticker <> 'T7' AND n_trades >= {_ELG_HEALTHY_N}
        AND omega >= {_ELG_OMEGA_FLOOR}
        AND payoff_eff >= {_ELG_PAYOFF_FLOOR}
        AND tp_freq >= {_ELG_TP_FLOOR}
    ),
    hcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_healthy FROM healthy),
    cmx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    ccloses AS (
      SELECT l.l_orderkey,
             SUM(l.l_quantity) AS cq,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l.l_discount AS DECIMAL(5,2))) AS cnet,
             MAX(l.l_shipdate) AS cship,
             MIN(l.l_tax) AS ctax
      FROM lineitem l
      JOIN cmx ON cmx.l_orderkey = l.l_orderkey
              AND l.l_linenumber = cmx.maxline
      GROUP BY l.l_orderkey
    ),
    copens AS (
      SELECT l_orderkey,
             SUM(l_quantity) AS oq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(5,2))) AS onet,
             MIN(l_shipdate) AS oship,
             MAX(l_linestatus) AS ostatus
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    ctr AS (
      SELECT c.l_orderkey AS id,
             'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             CAST(c.cship AS DATE) AS trade_date,
             CASE WHEN op.ostatus = 'O' THEN 'BUY' ELSE 'SELL' END
               AS action,
             ROUND(CAST(op.onet AS DOUBLE) / op.oq, 6) AS price,
             ROUND(CAST(c.cnet AS DOUBLE) / c.cq, 6) AS exit_price,
             ROUND(CAST(c.cnet - op.onet AS DOUBLE), 6) AS realized_pnl,
             CAST(DATEDIFF('day', CAST(op.oship AS DATE),
                           CAST(c.cship AS DATE)) AS BIGINT)
               AS holding_period_days,
             CASE WHEN c.ctax < 0.015 THEN 'STOP_LOSS'
                  WHEN c.ctax < 0.045 THEN 'TIME_EXIT'
                  WHEN c.ctax < 0.075 THEN 'TAKE_PROFIT'
                  ELSE 'OTHER' END AS exit_reason,
             ROUND(COALESCE(
               CASE WHEN c.l_orderkey % 3 = 0
                    THEN CAST(c.l_orderkey % 100 AS DOUBLE) / 100 END,
               CASE WHEN c.l_orderkey % 3 = 1
                    THEN CAST(c.l_orderkey % 83 AS DOUBLE) / 83 END,
               CASE WHEN c.l_orderkey % 3 = 2
                    THEN CAST(c.l_orderkey % 61 AS DOUBLE) / 61 END), 6)
               AS confidence,
             CASE WHEN c.l_orderkey % 2 = 0
                    THEN 'ts_' || CAST(c.l_orderkey AS VARCHAR)
                  WHEN c.l_orderkey % 5 = 0
                    THEN 'llm_' || CAST(c.l_orderkey AS VARCHAR) END
               AS ts_signal_id
      FROM ccloses c
      JOIN copens op ON op.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND op.oq > 0 AND c.cq > 0
    ),
    ctr_dated AS (
      SELECT * FROM ctr WHERE trade_date >= DATE '{_TCU_MIN_DATE}'
    ),
    ctr_kept AS (
      SELECT t.* FROM ctr_dated t
      JOIN healthy h ON h.ticker = t.ticker
      CROSS JOIN hcnt WHERE hcnt.n_healthy > 0
    ),
    aud_raw AS (
      SELECT 'forecast_audit_' || CAST(o_orderkey AS VARCHAR) AS file,
             'T' || CAST(o_custkey % 25 AS VARCHAR) AS ticker,
             CAST(o_orderdate AS DATE)
               + CAST(o_orderkey % 180 AS INT) AS window_end,
             o_orderkey % 7 <> 0 AS valid_format,
             ROUND(CAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)) AS BIGINT)
                        % 211 AS DOUBLE) / 100
                   + CAST(5 AS DOUBLE) / 100, 6) AS ensemble_rmse,
             ROUND(CAST(o_orderkey % 157 AS DOUBLE) / 100
                   + CAST(5 AS DOUBLE) / 100, 6) AS best_single_rmse,
             CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'SARIMAX'
                  WHEN 1 THEN 'ARIMA' WHEN 2 THEN 'GARCH'
                  ELSE 'SAMOSSA' END AS best_single_model,
             CASE WHEN o_orderkey % 11 <> 0
                  THEN ROUND(CAST(o_orderkey % 53 AS DOUBLE) / 53, 6) END
               AS lift_fraction_global
      FROM orders WHERE o_orderkey % 6 = 3
    ),
    aud_valid AS (SELECT * FROM aud_raw WHERE valid_format),
    aud_dated AS (
      SELECT * FROM aud_valid WHERE window_end >= DATE '{_TCU_MIN_DATE}'
    ),
    aud_kept AS (
      SELECT a.file, a.ticker, a.window_end,
             a.ensemble_rmse, a.best_single_rmse, a.best_single_model,
             ROUND(a.ensemble_rmse / a.best_single_rmse, 6) AS rmse_ratio,
             a.lift_fraction_global
      FROM aud_dated a
      JOIN healthy h ON h.ticker = a.ticker
      CROSS JOIN hcnt WHERE hcnt.n_healthy > 0
    )
"""


@session_frame_cache
def _tcu_healthy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEALTHY ticker set from the eligibility classification artifact.

    Checkpointed: the count gate and the semi join both consume it, and
    the eligibility lineage (two rank windows + three joins) should run
    once per query, not once per consumer."""
    return (
        ticker_eligibility_classification(spark, sf_dir)
        .filter(F.col("status") == "HEALTHY")
        .select("ticker")
        .localCheckpoint()
    )


@session_frame_cache
def _tcu_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation trade source frame (the ``ctr`` CTE of `_TCU_SQL`)."""
    key = F.col("c.l_orderkey")
    return (
        _closed_trades(spark, sf_dir, decimal_net=True)
        .select(
            key.alias("id"),
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string"))
            .alias("ticker"),
            F.to_date("cship").alias("trade_date"),
            F.when(F.col("ostatus") == "O", "BUY")
            .otherwise("SELL")
            .alias("action"),
            r6(F.col("onet").cast("double") / F.col("oq")).alias("price"),
            r6(F.col("cnet").cast("double") / F.col("cq")).alias(
                "exit_price"
            ),
            F.round((F.col("cnet") - F.col("onet")).cast("double"), 6).alias(
                "realized_pnl"
            ),
            F.datediff(F.to_date("cship"), F.to_date("oship"))
            .cast("bigint")
            .alias("holding_period_days"),
            F.when(F.col("ctax") < 0.015, "STOP_LOSS")
            .when(F.col("ctax") < 0.045, "TIME_EXIT")
            .when(F.col("ctax") < 0.075, "TAKE_PROFIT")
            .otherwise("OTHER")
            .alias("exit_reason"),
            r6(
                F.coalesce(
                    F.when(
                        key % 3 == 0, (key % 100).cast("double") / 100
                    ),
                    F.when(key % 3 == 1, (key % 83).cast("double") / 83),
                    F.when(key % 3 == 2, (key % 61).cast("double") / 61),
                )
            ).alias("confidence"),
            F.when(
                key % 2 == 0, F.concat(F.lit("ts_"), key.cast("string"))
            )
            .when(key % 5 == 0, F.concat(F.lit("llm_"), key.cast("string")))
            .alias("ts_signal_id"),
        )
    )


@session_frame_cache
def _tcu_audits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-audit source frame (the ``aud_raw`` CTE of `_TCU_SQL`)."""
    o = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    return o.filter(key % 6 == 3).select(
        F.concat(F.lit("forecast_audit_"), key.cast("string")).alias("file"),
        F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string")).alias(
            "ticker"
        ),
        F.expr(
            "date_add(CAST(o_orderdate AS DATE),"
            " CAST(o_orderkey % 180 AS INT))"
        ).alias("window_end"),
        (key % 7 != 0).alias("valid_format"),
        r6(
            F.expr(
                "CAST(CAST(FLOOR(CAST(o_totalprice AS DOUBLE)) AS BIGINT)"
                " % 211 AS DOUBLE) / 100"
            )
            + F.lit(5).cast("double") / 100
        ).alias("ensemble_rmse"),
        r6(
            (key % 157).cast("double") / 100 + F.lit(5).cast("double") / 100
        ).alias("best_single_rmse"),
        F.when(key % 4 == 0, "SARIMAX")
        .when(key % 4 == 1, "ARIMA")
        .when(key % 4 == 2, "GARCH")
        .otherwise("SAMOSSA")
        .alias("best_single_model"),
        F.when(key % 11 != 0, r6((key % 53).cast("double") / 53)).alias(
            "lift_fraction_global"
        ),
    )


@query(
    "training_curation_trades",
    oracle=f"""
    {_ELG_SQL}{_TCU_SQL}
    SELECT id, ticker, trade_date, action, price, exit_price,
           realized_pnl, holding_period_days, exit_reason, confidence,
           ts_signal_id
    FROM ctr_kept
    """,
)
def training_curation_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated training trades — reference
    `scripts/build_training_dataset.py:75-135` (`_build_trades_df`):
    production closed trades with the COALESCE(base_confidence,
    confidence_calibrated, effective_confidence) ladder (`:99-103`),
    date-cutoff filter, HEALTHY-ticker filter from the eligibility
    artifact, and the fail-closed rule — an eligibility state with zero
    HEALTHY tickers yields an EMPTY dataset, never include-all
    (`:214-235`).

    Scale: lot aggregation + equi-joins shuffle once on orderkey; the
    healthy set is a per-ticker (bounded-cardinality) broadcast; the
    fail-closed gate is a one-row broadcast scalar."""
    healthy = _tcu_healthy(spark, sf_dir)
    hcnt = healthy.agg(F.count(F.lit(1)).cast("bigint").alias("n_healthy"))
    return (
        _tcu_trades(spark, sf_dir)
        .filter(F.col("trade_date") >= F.lit(_TCU_MIN_DATE).cast("date"))
        .join(healthy, "ticker", "left_semi")
        .crossJoin(F.broadcast(hcnt))
        .filter(F.col("n_healthy") > 0)
        .select(
            "id",
            "ticker",
            "trade_date",
            "action",
            "price",
            "exit_price",
            "realized_pnl",
            "holding_period_days",
            "exit_reason",
            "confidence",
            "ts_signal_id",
        )
    )


@query(
    "training_curation_audits",
    oracle=f"""
    {_ELG_SQL}{_TCU_SQL}
    SELECT file, ticker, window_end, ensemble_rmse, best_single_rmse,
           best_single_model, rmse_ratio, lift_fraction_global
    FROM aud_kept
    """,
)
def training_curation_audits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated forecast-audit frame — reference
    `scripts/build_training_dataset.py:137-205` (`_build_audits_df`):
    format-invalid payloads dropped first, then the window-end date
    cutoff, then the HEALTHY-ticker filter; each kept audit carries the
    ensemble-vs-best-single `rmse_ratio` (`:186-193`, `_safe_ratio`
    guard) and the global lift fraction. Fail-closed like the trades
    half.

    Scale: a single filtered scan of the audit dimension + a bounded
    per-ticker semi join; no shuffle beyond the semi join."""
    healthy = _tcu_healthy(spark, sf_dir)
    hcnt = healthy.agg(F.count(F.lit(1)).cast("bigint").alias("n_healthy"))
    return (
        _tcu_audits(spark, sf_dir)
        .filter(F.col("valid_format"))
        .filter(F.col("window_end") >= F.lit(_TCU_MIN_DATE).cast("date"))
        .join(healthy, "ticker", "left_semi")
        .crossJoin(F.broadcast(hcnt))
        .filter(F.col("n_healthy") > 0)
        .select(
            "file",
            "ticker",
            "window_end",
            "ensemble_rmse",
            "best_single_rmse",
            "best_single_model",
            r6(F.col("ensemble_rmse") / F.col("best_single_rmse")).alias(
                "rmse_ratio"
            ),
            "lift_fraction_global",
        )
    )


@query(
    "training_curation_summary",
    oracle=f"""
    {_ELG_SQL}{_TCU_SQL}
    , tstat AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t_total,
             CAST(SUM(CASE WHEN t.trade_date < DATE '{_TCU_MIN_DATE}'
                      THEN 1 ELSE 0 END) AS BIGINT) AS t_excl_date,
             CAST(SUM(CASE WHEN t.trade_date >= DATE '{_TCU_MIN_DATE}'
                           AND h.ticker IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS t_excl_ticker,
             CAST(SUM(CASE WHEN t.trade_date >= DATE '{_TCU_MIN_DATE}'
                           AND h.ticker IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS t_kept,
             CAST(COUNT(DISTINCT CASE
                    WHEN t.trade_date >= DATE '{_TCU_MIN_DATE}'
                         AND h.ticker IS NOT NULL
                    THEN t.ticker END) AS BIGINT) AS t_tickers
      FROM ctr t LEFT JOIN healthy h ON h.ticker = t.ticker
    ),
    astat AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS a_total,
             CAST(SUM(CASE WHEN NOT a.valid_format THEN 1 ELSE 0 END)
                  AS BIGINT) AS a_excl_format,
             CAST(SUM(CASE WHEN a.valid_format
                           AND a.window_end < DATE '{_TCU_MIN_DATE}'
                      THEN 1 ELSE 0 END) AS BIGINT) AS a_excl_date,
             CAST(SUM(CASE WHEN a.valid_format
                           AND a.window_end >= DATE '{_TCU_MIN_DATE}'
                           AND h.ticker IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS a_excl_ticker,
             CAST(SUM(CASE WHEN a.valid_format
                           AND a.window_end >= DATE '{_TCU_MIN_DATE}'
                           AND h.ticker IS NOT NULL
                      THEN 1 ELSE 0 END) AS BIGINT) AS a_kept
      FROM aud_raw a LEFT JOIN healthy h ON h.ticker = a.ticker
    ),
    fold AS (
      SELECT hcnt.n_healthy = 0 AS fail_closed, hcnt.n_healthy,
             t.*, a.*
      FROM hcnt CROSS JOIN tstat t CROSS JOIN astat a
    )
    SELECT CASE WHEN fail_closed THEN 'explicit_zero_healthy'
                ELSE 'healthy_only' END AS eligibility_mode,
           fail_closed,
           CASE WHEN fail_closed
                THEN 'eligibility_exists_with_zero_healthy_tickers' END
             AS fail_closed_reason,
           n_healthy AS n_healthy_tickers,
           CASE WHEN fail_closed THEN 0 ELSE t_total END
             AS trades_n_total,
           CASE WHEN fail_closed THEN 0 ELSE t_excl_date END
             AS trades_n_excluded_date,
           CASE WHEN fail_closed THEN 0 ELSE t_excl_ticker END
             AS trades_n_excluded_ticker,
           CASE WHEN fail_closed THEN 0 ELSE t_kept END
             AS trades_n_filtered,
           CASE WHEN fail_closed THEN 0 ELSE t_tickers END
             AS trades_n_tickers_included,
           CASE WHEN fail_closed THEN 'skipped (fail-closed)'
                WHEN t_kept = 0 THEN 'skipped (empty dataset)'
                ELSE 'data/training/trades_filtered.parquet' END
             AS trades_output,
           CASE WHEN fail_closed THEN 0 ELSE a_total END
             AS audits_n_total,
           CASE WHEN fail_closed THEN 0 ELSE a_excl_format END
             AS audits_n_excluded_format,
           CASE WHEN fail_closed THEN 0 ELSE a_excl_date END
             AS audits_n_excluded_date,
           CASE WHEN fail_closed THEN 0 ELSE a_excl_ticker END
             AS audits_n_excluded_ticker,
           CASE WHEN fail_closed THEN 0 ELSE a_kept END
             AS audits_n_filtered,
           CASE WHEN fail_closed THEN 'skipped (fail-closed)'
                WHEN a_kept = 0 THEN 'skipped (empty dataset)'
                ELSE 'data/training/audits_filtered.parquet' END
             AS audits_output,
           NOT fail_closed AND t_kept > 0 AND t_tickers < 2
             AS warn_low_ticker_diversity,
           CASE WHEN fail_closed
                     OR (NOT fail_closed AND t_kept > 0 AND t_tickers < 2)
                THEN 'WARN' ELSE 'PASS' END AS status
    FROM fold
    """,
)
def training_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row curation summary — reference
    `scripts/build_training_dataset.py:206-290`
    (`build_training_datasets`): eligibility mode + fail-closed reason,
    both exclusion censuses (date/ticker for trades,
    format/date/ticker for audits — zeroed under fail-closed exactly as
    the reference skips the build), output-path ladder (fail-closed /
    empty-dataset / written), the <2-ticker low-diversity warning
    (`:270-276`) and the PASS/WARN status fold.

    Scale: two conditional-aggregation passes (trades, audits) with a
    bounded per-ticker broadcast join; the fold is scalar arithmetic on
    one row."""
    healthy = _tcu_healthy(spark, sf_dir)
    hcnt = healthy.agg(F.count(F.lit(1)).cast("bigint").alias("n_healthy"))
    cutoff = F.lit(_TCU_MIN_DATE).cast("date")
    t = (
        _tcu_trades(spark, sf_dir)
        .join(
            healthy.select(F.col("ticker").alias("h_ticker")),
            F.col("ticker") == F.col("h_ticker"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("t_total"),
            F.sum((F.col("trade_date") < cutoff).cast("long"))
            .cast("bigint")
            .alias("t_excl_date"),
            F.sum(
                (
                    (F.col("trade_date") >= cutoff)
                    & F.col("h_ticker").isNull()
                ).cast("long")
            )
            .cast("bigint")
            .alias("t_excl_ticker"),
            F.sum(
                (
                    (F.col("trade_date") >= cutoff)
                    & F.col("h_ticker").isNotNull()
                ).cast("long")
            )
            .cast("bigint")
            .alias("t_kept"),
            F.countDistinct(
                F.when(
                    (F.col("trade_date") >= cutoff)
                    & F.col("h_ticker").isNotNull(),
                    F.col("ticker"),
                )
            )
            .cast("bigint")
            .alias("t_tickers"),
        )
    )
    a = (
        _tcu_audits(spark, sf_dir)
        .join(
            healthy.select(F.col("ticker").alias("h_ticker")),
            F.col("ticker") == F.col("h_ticker"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("a_total"),
            F.sum((~F.col("valid_format")).cast("long"))
            .cast("bigint")
            .alias("a_excl_format"),
            F.sum(
                (
                    F.col("valid_format") & (F.col("window_end") < cutoff)
                ).cast("long")
            )
            .cast("bigint")
            .alias("a_excl_date"),
            F.sum(
                (
                    F.col("valid_format")
                    & (F.col("window_end") >= cutoff)
                    & F.col("h_ticker").isNull()
                ).cast("long")
            )
            .cast("bigint")
            .alias("a_excl_ticker"),
            F.sum(
                (
                    F.col("valid_format")
                    & (F.col("window_end") >= cutoff)
                    & F.col("h_ticker").isNotNull()
                ).cast("long")
            )
            .cast("bigint")
            .alias("a_kept"),
        )
    )
    fold = hcnt.crossJoin(t).crossJoin(a).withColumn(
        "fail_closed", F.col("n_healthy") == 0
    )
    fc = F.col("fail_closed")
    z = lambda c: F.when(fc, F.lit(0).cast("bigint")).otherwise(c)  # noqa: E731
    warn_div = ~fc & (F.col("t_kept") > 0) & (F.col("t_tickers") < 2)
    return fold.select(
        F.when(fc, "explicit_zero_healthy")
        .otherwise("healthy_only")
        .alias("eligibility_mode"),
        fc.alias("fail_closed"),
        F.when(fc, "eligibility_exists_with_zero_healthy_tickers").alias(
            "fail_closed_reason"
        ),
        F.col("n_healthy").alias("n_healthy_tickers"),
        z(F.col("t_total")).alias("trades_n_total"),
        z(F.col("t_excl_date")).alias("trades_n_excluded_date"),
        z(F.col("t_excl_ticker")).alias("trades_n_excluded_ticker"),
        z(F.col("t_kept")).alias("trades_n_filtered"),
        z(F.col("t_tickers")).alias("trades_n_tickers_included"),
        F.when(fc, "skipped (fail-closed)")
        .when(F.col("t_kept") == 0, "skipped (empty dataset)")
        .otherwise("data/training/trades_filtered.parquet")
        .alias("trades_output"),
        z(F.col("a_total")).alias("audits_n_total"),
        z(F.col("a_excl_format")).alias("audits_n_excluded_format"),
        z(F.col("a_excl_date")).alias("audits_n_excluded_date"),
        z(F.col("a_excl_ticker")).alias("audits_n_excluded_ticker"),
        z(F.col("a_kept")).alias("audits_n_filtered"),
        F.when(fc, "skipped (fail-closed)")
        .when(F.col("a_kept") == 0, "skipped (empty dataset)")
        .otherwise("data/training/audits_filtered.parquet")
        .alias("audits_output"),
        warn_div.alias("warn_low_ticker_diversity"),
        F.when(fc | warn_div, "WARN").otherwise("PASS").alias("status"),
    )


# ---------------------------------------------------------------------------
# Trading-objective significance report (llm_multi_model_orchestrator.py)
# ---------------------------------------------------------------------------

# Reference `scripts/llm_multi_model_orchestrator.py:2487-2610`
# (`_build_trading_objective_report` + `_wilson_lower_bound`): the
# orchestrator's conservative trading objective over production round
# trips — Wilson lower bound on the win rate at z=1.96, conservative
# error-rate upper bound (1 − wilson), objective value = that bound minus
# the 0.42 target, a normal-approximation binomial test against the
# 50/50 baseline, and the PASS / LIMITED (sufficient sample but failing)
# / FAIL (insufficient sample) ladder with per-rule limitation flags.
# Malformed counts fold into losses (`:2531-2533`); two-sided normal
# p-value = erfc(|z|/√2) = the engine's χ²(1) survival function on z².
_TOB_MIN_TRADES = 40
_TOB_TARGET_ERR = 0.42
_TOB_MIN_WILSON = 0.55
_TOB_PVALUE_MAX = 0.05
_TOB_Z = 1.96

from ..functions.scalars import chi2_sf1, chi2_sf1_sql
from .queries import ORACLE as _TOB_ORACLE


@query("trading_objective_report")
def trading_objective_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R148: the orchestrator's trading-objective fold over the engine's
    round-trip frame — single bounded aggregate, the Wilson/binomial
    algebra on two counts."""
    rt = round_trips(spark, sf_dir).filter(F.col("gross_pnl").isNotNull())
    g = rt.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum((F.col("gross_pnl") > 0).cast("int"))
        .cast("long")
        .alias("wins"),
    )
    total = F.col("total").cast("double")
    wins = F.col("wins").cast("double")
    losses = total - wins
    p_hat = F.greatest(F.lit(0.0), F.least(F.lit(1.0), wins / total))
    z2 = F.lit(_TOB_Z * _TOB_Z)
    denom = 1.0 + z2 / total
    centre = p_hat + z2 / (2.0 * total)
    variance = p_hat * (1.0 - p_hat) / total + z2 / (4.0 * total * total)
    margin = _TOB_Z * F.sqrt(F.greatest(F.lit(0.0), variance))
    wilson = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), (centre - margin) / denom)
    )
    err_upper = F.greatest(F.lit(0.0), 1.0 - wilson)
    zscore = (wins - 0.5 * total) / F.sqrt(0.25 * total)
    pval = F.greatest(
        F.lit(0.0),
        F.least(F.lit(1.0), chi2_sf1(F.round(zscore * zscore, 6))),
    )
    suff = F.col("total") >= _TOB_MIN_TRADES
    signif = suff & (pval <= _TOB_PVALUE_MAX)
    passes = (
        signif & (wilson >= _TOB_MIN_WILSON) & (err_upper <= _TOB_TARGET_ERR)
    )
    return g.select(
        F.when(F.col("total") <= 0, "LIMITED")
        .when(passes, "PASS")
        .when(suff, "LIMITED")
        .otherwise("FAIL")
        .alias("status"),
        r6(err_upper - _TOB_TARGET_ERR).alias("objective_value"),
        F.col("total").alias("sample_size"),
        F.col("wins"),
        losses.cast("long").alias("losses"),
        r6(wins / total).alias("win_rate"),
        r6(losses / total).alias("error_rate"),
        r6(wilson).alias("wilson_win_rate_lower"),
        r6(err_upper).alias("conservative_error_rate_upper"),
        r6(zscore).alias("z_score"),
        r6(pval).alias("p_value"),
        suff.alias("sufficient_sample_size"),
        signif.alias("significant_vs_random_baseline"),
        (~suff).alias("lim_sample_size"),
        (pval > _TOB_PVALUE_MAX).alias("lim_pvalue"),
        (wilson < _TOB_MIN_WILSON).alias("lim_wilson"),
        (err_upper > _TOB_TARGET_ERR).alias("lim_error_bound"),
    )


_TOB_ORACLE["trading_objective_report"] = f"""
    WITH rt AS ({_TOB_ORACLE["round_trips"]}),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN gross_pnl > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS wins
      FROM rt WHERE gross_pnl IS NOT NULL
    ),
    c AS (
      SELECT total, wins,
             CAST(total AS DOUBLE) AS td, CAST(wins AS DOUBLE) AS wd,
             {_TOB_Z} * {_TOB_Z} AS z2
      FROM g
    ),
    w AS (
      SELECT *,
             GREATEST(0.0, LEAST(1.0, wd / td)) AS p_hat,
             1.0 + z2 / td AS denom,
             GREATEST(0.0, LEAST(1.0, wd / td)) + z2 / (2.0 * td) AS centre,
             GREATEST(0.0, LEAST(1.0, wd / td)) *
               (1.0 - GREATEST(0.0, LEAST(1.0, wd / td))) / td
               + z2 / (4.0 * td * td) AS variance,
             (wd - 0.5 * td) / SQRT(0.25 * td) AS zscore
      FROM c
    ),
    w2 AS (
      SELECT *,
             GREATEST(0.0, LEAST(1.0,
               (centre - {_TOB_Z} * SQRT(GREATEST(0.0, variance)))
               / denom)) AS wilson,
             ROUND(zscore * zscore, 6) AS zsq
      FROM w
    ),
    w3 AS (
      SELECT *,
             GREATEST(0.0, 1.0 - wilson) AS err_upper,
             GREATEST(0.0, LEAST(1.0, {chi2_sf1_sql('zsq')})) AS pval,
             total >= {_TOB_MIN_TRADES} AS suff
      FROM w2
    )
    SELECT CASE WHEN total <= 0 THEN 'LIMITED'
                WHEN suff AND pval <= {_TOB_PVALUE_MAX}
                     AND wilson >= {_TOB_MIN_WILSON}
                     AND err_upper <= {_TOB_TARGET_ERR} THEN 'PASS'
                WHEN suff THEN 'LIMITED'
                ELSE 'FAIL' END AS status,
           ROUND(err_upper - {_TOB_TARGET_ERR}, 6) AS objective_value,
           total AS sample_size, wins,
           CAST(td - wd AS BIGINT) AS losses,
           ROUND(wd / td, 6) AS win_rate,
           ROUND((td - wd) / td, 6) AS error_rate,
           ROUND(wilson, 6) AS wilson_win_rate_lower,
           ROUND(err_upper, 6) AS conservative_error_rate_upper,
           ROUND(zscore, 6) AS z_score,
           ROUND(pval, 6) AS p_value,
           suff AS sufficient_sample_size,
           suff AND pval <= {_TOB_PVALUE_MAX}
             AS significant_vs_random_baseline,
           NOT suff AS lim_sample_size,
           pval > {_TOB_PVALUE_MAX} AS lim_pvalue,
           wilson < {_TOB_MIN_WILSON} AS lim_wilson,
           err_upper > {_TOB_TARGET_ERR} AS lim_error_bound
    FROM w3
"""


# ---------------------------------------------------------------------------
# Weighted-average-cost position reconstruction (dashboard_db_bridge.py)
# ---------------------------------------------------------------------------

# Reference `scripts/dashboard_db_bridge.py:578-689`
# (`_positions_from_executions`): replay the execution stream in time
# order through the average-cost state machine — flat → open at trade
# price; same-side add → weighted-average blend; partial close → shares
# shrink, AVERAGE UNCHANGED (so partial closes never distort entry
# price, the function's stated purpose); exact close → flat with the
# average cleared; over-close → position flips to the remainder at the
# NEW trade price — then mark the surviving position against the latest
# close (market value, unrealized PnL, sign-adjusted percentage). This
# is WAC inventory accounting, the complement of the FIFO lot matcher
# (J8 `fifo_lot_allocation`); the blend depends on the add/close
# interleaving, so the recursion is genuinely sequential per key.
#
# Engine stream: one execution per series bar — qty 1+(event_id mod 5)
# (integer, so the exact-close branch compares exactly), BUY unless
# event_id mod 3 = 0, price = the bar's value. Spark replays per key in
# an Arrow kernel; the oracle replays the SAME recursion in a recursive
# CTE — every state transition differentially checked.


def _wac_kernel(pdf):
    import pandas as _pd

    pdf = pdf.sort_values("rn")
    key = pdf["user_id"].iloc[0]
    pos, avg = 0.0, None
    flips = closes = 0
    p = None
    for q, p in zip(pdf["signed_qty"], pdf["price"]):
        q, p = float(q), float(p)
        if pos == 0.0:
            pos, avg = q, p
            continue
        same = (pos > 0) == (q > 0)
        if same:
            tot = abs(pos) + abs(q)
            avg = (abs(pos) * avg + abs(q) * p) / tot
            pos += q
        elif abs(q) < abs(pos):
            pos += q
        elif abs(q) == abs(pos):
            pos, avg = 0.0, None
            closes += 1
        else:
            pos += q
            avg = p
            flips += 1
    return _pd.DataFrame(
        {
            "user_id": [key],
            "n_trades": [len(pdf)],
            "shares": [pos],
            "entry_price": [avg],
            "n_flips": [flips],
            "n_full_closes": [closes],
            # last price in (ts, event_id) order — the kernel already
            # holds the sorted sequence, so the marking price rides along
            # instead of costing a second full window pass + join
            # (optimization round 12, guide §2.2: one shuffle, not three)
            "current_price": [None if p is None else float(p)],
        }
    )


@query("wac_position_reconstruction")
def wac_position_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R150: per-key WAC position replay + mark-to-latest-close block.
    Arrow-batched per-key kernel (sequential by construction); the
    marking joins are key-grain. Linear at any key count."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        (
            F.when(F.col("event_id") % 3 == 0, -1).otherwise(1)
            * (1 + F.col("event_id") % 5)
        ).cast("double").alias("signed_qty"),
        F.col("value").alias("price"),
    )
    j = tr.groupBy("user_id").applyInPandas(
        _wac_kernel,
        "user_id long, n_trades long, shares double, entry_price double,"
        " n_flips long, n_full_closes long, current_price double",
    )
    active = F.abs(F.col("shares")) >= 1e-6
    upnl = F.when(
        active & F.col("entry_price").isNotNull(),
        (F.col("current_price") - F.col("entry_price")) * F.col("shares"),
    )
    upct = F.when(
        active & F.col("entry_price").isNotNull(),
        (F.col("current_price") / F.col("entry_price") - 1.0)
        * F.when(F.col("shares") > 0, 1.0).otherwise(-1.0),
    )
    return j.select(
        "user_id",
        "n_trades",
        r6(F.col("shares")).alias("shares"),
        r6(F.col("entry_price")).alias("entry_price"),
        "n_flips",
        "n_full_closes",
        r6(F.col("current_price")).alias("current_price"),
        r6(
            F.when(active, F.col("current_price") * F.col("shares"))
        ).alias("market_value"),
        r6(upnl).alias("unrealized_pnl"),
        r6(upct).alias("unrealized_pnl_pct"),
        F.when(active, "ACTIVE").otherwise("FLAT").alias("status"),
    )


_TOB_ORACLE["wac_position_reconstruction"] = """
    WITH RECURSIVE tr AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CAST(CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END
                  * (1 + event_id % 5) AS DOUBLE) AS q,
             value AS p
      FROM events WHERE value > 0
    ),
    keys AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_tr
      FROM tr GROUP BY user_id
    ),
    rec AS (
      SELECT user_id, 0 AS step,
             CAST(0.0 AS DOUBLE) AS pos,
             CAST(NULL AS DOUBLE) AS avg,
             CAST(0 AS BIGINT) AS flips,
             CAST(0 AS BIGINT) AS closes,
             n_tr
      FROM keys
      UNION ALL
      SELECT r.user_id, r.step + 1,
             CASE WHEN r.pos = 0.0 THEN t.q
                  WHEN (r.pos > 0) = (t.q > 0) THEN r.pos + t.q
                  WHEN ABS(t.q) < ABS(r.pos) THEN r.pos + t.q
                  WHEN ABS(t.q) = ABS(r.pos) THEN 0.0
                  ELSE r.pos + t.q END,
             CASE WHEN r.pos = 0.0 THEN t.p
                  WHEN (r.pos > 0) = (t.q > 0)
                    THEN (ABS(r.pos) * r.avg + ABS(t.q) * t.p)
                         / (ABS(r.pos) + ABS(t.q))
                  WHEN ABS(t.q) < ABS(r.pos) THEN r.avg
                  WHEN ABS(t.q) = ABS(r.pos) THEN CAST(NULL AS DOUBLE)
                  ELSE t.p END,
             r.flips + CASE WHEN r.pos <> 0.0
                             AND (r.pos > 0) <> (t.q > 0)
                             AND ABS(t.q) > ABS(r.pos)
                            THEN 1 ELSE 0 END,
             r.closes + CASE WHEN r.pos <> 0.0
                              AND (r.pos > 0) <> (t.q > 0)
                              AND ABS(t.q) = ABS(r.pos)
                             THEN 1 ELSE 0 END,
             r.n_tr
      FROM rec r
      JOIN tr t ON t.user_id = r.user_id AND t.rn = r.step + 1
      WHERE r.step < r.n_tr
    ),
    fin AS (
      SELECT user_id, n_tr AS n_trades, pos AS shares,
             avg AS entry_price, flips AS n_flips,
             closes AS n_full_closes
      FROM rec WHERE step = n_tr
    ),
    last AS (
      SELECT user_id, value AS current_price FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk
        FROM events WHERE value > 0)
      WHERE rk = 1
    )
    SELECT f.user_id, f.n_trades,
           ROUND(f.shares, 6) AS shares,
           ROUND(f.entry_price, 6) AS entry_price,
           f.n_flips, f.n_full_closes,
           ROUND(l.current_price, 6) AS current_price,
           CASE WHEN ABS(f.shares) >= 1e-6
                THEN ROUND(l.current_price * f.shares, 6) END
             AS market_value,
           CASE WHEN ABS(f.shares) >= 1e-6 AND f.entry_price IS NOT NULL
                THEN ROUND((l.current_price - f.entry_price) * f.shares, 6)
                END AS unrealized_pnl,
           CASE WHEN ABS(f.shares) >= 1e-6 AND f.entry_price IS NOT NULL
                THEN ROUND((l.current_price / f.entry_price - 1.0)
                     * CASE WHEN f.shares > 0 THEN 1.0 ELSE -1.0 END, 6)
                END AS unrealized_pnl_pct,
           CASE WHEN ABS(f.shares) >= 1e-6 THEN 'ACTIVE'
                ELSE 'FLAT' END AS status
    FROM fin f JOIN last l ON l.user_id = f.user_id
"""


# ---------------------------------------------------------------------------
# Trade-event feed with the dashboard classify ladder (dashboard_db_bridge)
# ---------------------------------------------------------------------------

# Reference `scripts/dashboard_db_bridge.py:689-705`
# (`_classify_trade_event`) + the bounded trade-event feed
# (`_trade_events_filtered`, `:808-...`): BUY → ENTRY; SELL classified by
# realized PnL sign (EXIT_PROFIT / EXIT_LOSS / EXIT_FLAT, unparseable →
# EXIT_FLAT); the dashboard shows the most recent N events. Engine
# mapping: each round-trip order contributes its opening leg as a BUY
# ENTRY at the open ship date and its closing leg as a SELL exit at the
# close ship date, classified by the round trip's gross PnL (open leg
# disqualified → NULL PnL → EXIT_FLAT). Same aggregated-lot leg rules as
# `round_trips` (J1).
_TEF_LIMIT = 50


@query(
    "trade_event_feed",
    oracle="""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             MAX(l.l_shipdate) AS cship
      FROM lineitem l
      JOIN mx ON mx.l_orderkey = l.l_orderkey
             AND l.l_linenumber = mx.maxline
      GROUP BY l.l_orderkey
    ),
    opens AS (
      SELECT l_orderkey,
             SUM(l_extendedprice * (1 - l_discount)) AS onet,
             MIN(l_shipdate) AS oship
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    ev AS (
      SELECT o.l_orderkey AS orderkey, 'BUY' AS action,
             o.oship AS ts, CAST(NULL AS DOUBLE) AS pnl
      FROM opens o JOIN closes c ON c.l_orderkey = o.l_orderkey
      WHERE o.l_orderkey < 3000
      UNION ALL
      SELECT c.l_orderkey, 'SELL', c.cship, c.cnet - oo.onet
      FROM closes c LEFT JOIN opens oo ON oo.l_orderkey = c.l_orderkey
      WHERE c.l_orderkey < 3000
    ),
    feed AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY ts DESC, orderkey DESC,
                                   action DESC) AS rnk
      FROM ev
    )
    SELECT CAST(rnk AS INT) AS rnk, orderkey, action,
           EPOCH_MS(ts) AS event_ms,
           ROUND(pnl, 6) AS realized_pnl,
           CASE WHEN action = 'BUY' THEN 'ENTRY'
                WHEN pnl IS NULL THEN 'EXIT_FLAT'
                WHEN pnl > 0 THEN 'EXIT_PROFIT'
                WHEN pnl < 0 THEN 'EXIT_LOSS'
                ELSE 'EXIT_FLAT' END AS event_class
    FROM feed WHERE rnk <= 50
    """,
)
def trade_event_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R152: the dashboard's bounded trade-event feed — ENTRY rows from
    opening legs, SELL exits classified by round-trip PnL, most-recent-50
    by ship date (TakeOrderedAndProject; bounded at any scale)."""
    legs = _trade_legs(spark, sf_dir).filter(F.col("l_orderkey") < 3000)
    entries = legs.filter(F.col("n_open") > 0).select(
        F.col("l_orderkey").alias("orderkey"),
        F.lit("BUY").alias("action"),
        F.col("oship").alias("ts"),
        F.lit(None).cast("double").alias("pnl"),
    )
    exits = legs.select(
        F.col("l_orderkey").alias("orderkey"),
        F.lit("SELL").alias("action"),
        F.col("cship").alias("ts"),
        (F.col("cnet") - F.col("onet")).alias("pnl"),
    )
    ev = entries.unionByName(exits)
    feed = (
        ev.orderBy(
            F.col("ts").desc(), F.col("orderkey").desc(),
            F.col("action").desc(),
        )
        .limit(_TEF_LIMIT)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(
                    F.col("ts").desc(), F.col("orderkey").desc(),
                    F.col("action").desc(),
                )
            ).cast("int"),
        )
    )
    pnl = F.col("pnl")
    return feed.select(
        "rnk",
        "orderkey",
        "action",
        F.unix_millis(F.col("ts")).alias("event_ms"),
        r6(pnl).alias("realized_pnl"),
        F.when(F.col("action") == "BUY", "ENTRY")
        .when(pnl.isNull(), "EXIT_FLAT")
        .when(pnl > 0, "EXIT_PROFIT")
        .when(pnl < 0, "EXIT_LOSS")
        .otherwise("EXIT_FLAT")
        .alias("event_class"),
    )
