"""Query pack 11 — operational reconciliation and lifecycle-repair audits.

Reference surface: the reference's outcome-reconciliation and trade-
lifecycle repair scripts (`scripts/update_platt_outcomes.py`,
`scripts/repair_unlinked_closes.py`, `scripts/cleanup_orphaned_positions.py`,
`scripts/retire_zombie_opens.py`, `scripts/replay_trade_evidence_chain.py`).
These are the "keep the ledger honest" operators a production deployment
runs daily; each is re-expressed as a declarative Spark plan over the
engine's canonical trade/signal frames with a full DuckDB oracle.

Engine data mapping (shared with the trades pack): a closed trade is a
TPC-H order with ``o_orderstatus='F'`` whose open leg is lineitem 1
(returnflag != 'R') and close leg is the max-linenumber lineitem;
ticker = 'T' || o_custkey % 25; pnl = close net - open net.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .queries import (
    ORACLE,
    QUERIES,
    literal_grid,
    query,
    r6,
    session_frame_cache,
    shared_small_frame,
)
from .queries_trades import _closed_trades, _trade_legs

# ---------------------------------------------------------------------------
# Platt outcome reconciliation — reference scripts/update_platt_outcomes.py
# ---------------------------------------------------------------------------
# Constants mirror the reference: MATCH_TIME_TOLERANCE_MINUTES=90 (`:44`),
# MATCH_TIME_TOLERANCE_DAYS=1 (`:43`), ELIGIBILITY_BUFFER=5min (`:46`),
# DATE_FALLBACK_SLO_MAX_RATE_DEFAULT=0.05 (`:48`).
_PLT_TOL_SEC = 90 * 60
_PLT_TOL_DAYS = 1
_PLT_AS_OF = "2001-06-01"  # reconciliation run date (dataset ends 2001-11)
_PLT_SLO_MAX = 0.05

# The deterministic engine mapping of the reference's two stores:
#
# quant_validation.jsonl entries  <-  orders (one signal per order):
#   symbol          = 'T' || o_custkey % 25
#   action          = HOLD for '5-LOW' priority, SELL for '1-URGENT', else BUY
#   expected_close  = the order's final ship date + ((orderkey div 3)%3
#                     - 1) days of plan jitter (ecd) — production
#                     horizons track realized closes; the jitter plants
#                     matches, date fallbacks and TIME_MISMATCH rows
#   already-has-outcome when o_orderkey % 11 = 0   (reference `:984` skip)
#   ts_signal_id    = 'SIG-' || o_orderkey when o_orderkey % 3 = 0
#                     (else the entry only has the stable symbol/time key
#                      and takes the symbol_time_fallback path, `:1169`)
#
# trade_executions closed rows    <-  the canonical closed-trade frame:
#   ts_signal_id    = 'SIG-' || orderkey when orderkey % 2 = 0
#   ticker          = 'T' || (o_custkey + (orderkey%13=0)) % 25
#                     (the %13 perturbation plants SYMBOL_MISMATCH rows)
#   trade_date      = close-leg ship date
#   close_ts        = trade_date 00:00 + (orderkey % 48) * 5 minutes;
#                     DATE-ONLY (fallback-grade, reference `:604-606`)
#                     when orderkey % 7 = 0
#   open (unclosed) signals = 'O'-status orders with orderkey % 2 = 0
#                     (reference `_fetch_open_signal_ids`, `:513`)
_PLT_SQL = f"""
    WITH shipmax AS (
      SELECT l_orderkey, CAST(MAX(l_shipdate) AS DATE) AS smax
      FROM lineitem GROUP BY l_orderkey
    ),
    ent AS (
      SELECT o_orderkey AS entry_id,
             'T' || CAST(o_custkey % 25 AS VARCHAR) AS symbol,
             CASE WHEN o_orderpriority = '5-LOW' THEN 'HOLD'
                  WHEN o_orderpriority = '1-URGENT' THEN 'SELL'
                  ELSE 'BUY' END AS action,
             (o_orderkey % 11 = 0) AS has_outcome,
             CASE WHEN o_orderkey % 3 = 0
                  THEN 'SIG-' || CAST(o_orderkey AS VARCHAR) END
               AS ts_signal_id,
             COALESCE(sm.smax, CAST(o.o_orderdate AS DATE))
               + CAST((o_orderkey // 3) % 3 - 1 AS INTEGER) AS ecd
      FROM orders o
      LEFT JOIN shipmax sm ON sm.l_orderkey = o.o_orderkey
    ),
    mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             MAX(l.l_shipdate) AS cship
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
    tr AS (
      SELECT c.l_orderkey AS orderkey,
             'T' || CAST((o.o_custkey
                          + CASE WHEN c.l_orderkey % 13 = 0
                                 THEN 1 ELSE 0 END) % 25 AS VARCHAR)
               AS ticker,
             CAST(c.cship AS DATE) AS trade_date,
             (c.l_orderkey % 7 = 0) AS date_only,
             CAST(c.l_orderkey % 48 AS INTEGER) AS off,
             CASE WHEN c.l_orderkey % 2 = 0
                  THEN 'SIG-' || CAST(c.l_orderkey AS VARCHAR) END AS tsid,
             ROUND(c.cnet - o2.onet, 6) AS pnl,
             ROUND((c.cnet - o2.onet) / o2.onet, 6) AS pnl_pct
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    open_ids AS (
      SELECT 'SIG-' || CAST(o_orderkey AS VARCHAR) AS tsid
      FROM orders
      WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0
    ),
    pend AS (
      SELECT * FROM ent
      WHERE NOT has_outcome AND action <> 'HOLD'
        AND ecd <= DATE '{_PLT_AS_OF}'
    ),
    pairs AS (
      -- mode A: direct ts_signal_id candidates (symbol NOT pre-filtered,
      -- reference `_fetch_outcome_candidates_for_signals`)
      SELECT e.entry_id, 'ts_signal_id' AS mode, e.ts_signal_id, e.ecd,
             t.orderkey, t.pnl, t.pnl_pct,
             CASE WHEN t.orderkey IS NULL THEN NULL
                  WHEN t.ticker = e.symbol THEN TRUE ELSE FALSE END AS sym_ok,
             t.date_only, t.trade_date, t.off
      FROM (SELECT * FROM pend WHERE ts_signal_id IS NOT NULL) e
      LEFT JOIN tr t ON t.tsid = e.ts_signal_id
      UNION ALL
      -- mode B: symbol + trade_date within +/-1 day of the expected close
      -- (reference `_fetch_symbol_time_candidates` applies the symbol
      -- filter at fetch time, so sym_ok is TRUE by construction)
      SELECT e.entry_id, 'symbol_time_fallback', e.ts_signal_id, e.ecd,
             t.orderkey, t.pnl, t.pnl_pct,
             CASE WHEN t.orderkey IS NULL THEN NULL ELSE TRUE END,
             t.date_only, t.trade_date, t.off
      FROM (SELECT * FROM pend WHERE ts_signal_id IS NULL) e
      LEFT JOIN tr t
        ON t.ticker = e.symbol
       AND t.trade_date BETWEEN e.ecd - {_PLT_TOL_DAYS}
                            AND e.ecd + {_PLT_TOL_DAYS}
    ),
    flagged AS (
      SELECT *,
             (trade_date - ecd) * 86400 + off * 300 AS diff_sec,
             (sym_ok AND NOT date_only
              AND ABS((trade_date - ecd) * 86400 + off * 300)
                  <= {_PLT_TOL_SEC}) AS valid_ts,
             (sym_ok AND date_only
              AND ABS(trade_date - ecd) <= {_PLT_TOL_DAYS}) AS valid_fb
      FROM pairs
    ),
    agg AS (
      SELECT entry_id, ANY_VALUE(mode) AS mode,
             ANY_VALUE(ts_signal_id) AS ts_signal_id,
             COUNT(orderkey) AS n_cand,
             COALESCE(SUM(CASE WHEN sym_ok THEN 1 ELSE 0 END), 0) AS n_symok,
             COALESCE(SUM(CASE WHEN valid_ts OR valid_fb
                               THEN 1 ELSE 0 END), 0) AS n_valid,
             COALESCE(SUM(CASE WHEN sym_ok
                                    AND NOT COALESCE(valid_ts, FALSE)
                                    AND NOT COALESCE(valid_fb, FALSE)
                               THEN 1 ELSE 0 END), 0) AS n_time_mm,
             MAX(CASE WHEN valid_ts THEN 1
                      WHEN valid_fb THEN 0 END) AS sel_is_ts,
             MAX(CASE WHEN valid_ts OR valid_fb THEN orderkey END)
               AS sel_orderkey,
             MAX(CASE WHEN valid_ts OR valid_fb THEN pnl END) AS sel_pnl,
             MAX(CASE WHEN valid_ts OR valid_fb THEN pnl_pct END)
               AS sel_pnl_pct
      FROM flagged GROUP BY entry_id
    ),
    classified AS (
      SELECT a.entry_id, a.mode,
             CASE
               WHEN a.n_cand = 0 OR (a.n_symok > 0 AND a.n_valid = 0
                                     AND a.n_time_mm = 0)
                 THEN CASE WHEN a.ts_signal_id IS NOT NULL
                                AND oi.tsid IS NOT NULL
                           THEN 'OPEN_ONLY_LIFECYCLE_LAG' ELSE 'NO_ROW' END
               WHEN a.n_symok = 0 THEN 'SYMBOL_MISMATCH'
               WHEN a.n_valid = 0 THEN 'TIME_MISMATCH'
               WHEN a.n_valid > 1 THEN 'MULTIPLE_ROWS'
               ELSE 'MATCHED'
             END AS match_status,
             CASE WHEN a.n_symok > 0 AND a.n_valid = 1
                  THEN CASE WHEN a.sel_is_ts = 1
                            THEN 'timestamp' ELSE 'date_fallback' END
             END AS match_anchor,
             a.sel_orderkey, a.sel_pnl, a.sel_pnl_pct
      FROM agg a LEFT JOIN open_ids oi ON oi.tsid = a.ts_signal_id
    ),
    recon AS (
      SELECT e.entry_id,
             CASE WHEN e.has_outcome THEN 'skip'
                  WHEN e.action = 'HOLD' THEN 'skip'
                  WHEN e.ecd > DATE '{_PLT_AS_OF}' THEN 'eligibility'
                  ELSE c.mode END AS mode,
             CASE WHEN e.has_outcome THEN 'ALREADY_DONE'
                  WHEN e.action = 'HOLD' THEN 'HOLD_SKIPPED'
                  WHEN e.ecd > DATE '{_PLT_AS_OF}' THEN 'NOT_YET_ELIGIBLE'
                  ELSE c.match_status END AS match_status,
             CASE WHEN c.match_status = 'MATCHED'
                  THEN c.match_anchor END AS match_anchor,
             CASE WHEN c.match_status = 'MATCHED'
                       AND c.match_anchor = 'date_fallback'
                  THEN 'DATE_FALLBACK_USED' END AS reason_code,
             CASE WHEN c.match_status = 'MATCHED'
                  THEN CASE WHEN c.sel_pnl > 0 THEN 1 ELSE 0 END
             END AS outcome_win,
             CASE WHEN c.match_status = 'MATCHED'
                  THEN ROUND(c.sel_pnl, 4) END AS outcome_pnl,
             CASE WHEN c.match_status = 'MATCHED'
                  THEN c.sel_pnl_pct END AS outcome_pnl_pct,
             CASE WHEN c.match_status = 'MATCHED'
                  THEN c.sel_orderkey END AS matched_orderkey
      FROM ent e LEFT JOIN classified c ON c.entry_id = e.entry_id
    )
"""


@query(
    "platt_outcome_reconciliation",
    oracle=f"""
    {_PLT_SQL}
    SELECT * FROM recon
    """,
)
@session_frame_cache
def platt_outcome_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry-grain Platt outcome reconciliation — reference
    `scripts/update_platt_outcomes.py:899-1300` (`reconcile`): each
    signal entry is skipped (already-reconciled `:984`, HOLD `:988`) or
    eligibility-gated (`:270-277`), then matched to a closed trade via
    the two-mode ladder — direct ``ts_signal_id`` lookup (`:363-451`)
    else symbol + trade-date window fetch (`:453-511`) — and classified
    by `_select_candidate_for_record` (`:545-648`): symbol filter first,
    then the 90-minute timestamp tolerance (date-only close timestamps
    are fallback-grade evidence, `:604-606`), then the ±1-day date
    fallback; statuses NO_ROW / SYMBOL_MISMATCH / TIME_MISMATCH /
    MULTIPLE_ROWS / MATCHED, with NO_ROW on an id that is open-only
    upgraded to OPEN_ONLY_LIFECYCLE_LAG (`:1192-1197`) and matched
    date-fallback rows stamped DATE_FALLBACK_USED (`:644-646`). The
    matched entry receives the trade's outcome payload: win flag, pnl
    rounded to 4dp, pnl_pct (`:308-338`).

    Scale shape: mode A is an equi-join on ts_signal_id (key cardinality
    grows with data); mode B joins on (symbol, ±1-day date bucket) — the
    entry side explodes to exactly 3 date-bucket rows, so the join stays
    an equi-join whose key space grows with the calendar, never a range
    scan. Both aggregations are per-entry groupBys; no window over the
    full frame, no broadcast of a corpus-scaled side."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ok = F.col("o_orderkey")

    shipmax = li.groupBy("l_orderkey").agg(
        F.to_date(F.max("l_shipdate")).alias("smax")
    )
    ent = o.join(
        shipmax, F.col("l_orderkey") == F.col("o_orderkey"), "left"
    ).select(
        ok.alias("entry_id"),
        F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string")).alias(
            "symbol"
        ),
        F.when(F.col("o_orderpriority") == "5-LOW", "HOLD")
        .when(F.col("o_orderpriority") == "1-URGENT", "SELL")
        .otherwise("BUY")
        .alias("action"),
        (ok % 11 == 0).alias("has_outcome"),
        F.when(
            ok % 3 == 0, F.concat(F.lit("SIG-"), ok.cast("string"))
        ).alias("ts_signal_id"),
        F.expr(
            "date_add(coalesce(smax, CAST(o_orderdate AS DATE)),"
            " CAST((o_orderkey div 3) % 3 - 1 AS INT))"
        ).alias("ecd"),
        # entry-grain; THREE consumers (mode-A pend, mode-B grid, the
        # final reconciliation join) each re-executed the orders ⋈
        # shipmax build — materialize once (opt r12 batch 5, guide §2.4)
    ).localCheckpoint(eager=False)

    tk = F.col("c.l_orderkey")
    tr = (
        _closed_trades(spark, sf_dir)
        .select(
            tk.alias("orderkey"),
            F.concat(
                F.lit("T"),
                (
                    (
                        F.col("o_custkey")
                        + F.when(tk % 13 == 0, 1).otherwise(0)
                    )
                    % 25
                ).cast("string"),
            ).alias("ticker"),
            F.to_date("cship").alias("trade_date"),
            (tk % 7 == 0).alias("date_only"),
            (tk % 48).cast("int").alias("off"),
            F.when(
                tk % 2 == 0, F.concat(F.lit("SIG-"), tk.cast("string"))
            ).alias("tsid"),
            F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
            F.round(
                (F.col("cnet") - F.col("onet")) / F.col("onet"), 6
            ).alias("pnl_pct"),
            # trade-grain; BOTH candidate modes join against this frame
            # — materialize the closes ⋈ opens ⋈ orders build once
            # (opt r12 batch 5, guide §2.4)
        )
    ).localCheckpoint(eager=False)

    open_ids = (
        o.filter((F.col("o_orderstatus") == "O") & (ok % 2 == 0))
        .select(
            F.concat(F.lit("SIG-"), ok.cast("string")).alias("open_tsid")
        )
    )

    as_of = F.lit(_PLT_AS_OF).cast("date")
    pend = ent.filter(
        (~F.col("has_outcome"))
        & (F.col("action") != "HOLD")
        & (F.col("ecd") <= as_of)
    )

    t = tr.alias("t")
    pairs_a = (
        pend.filter(F.col("ts_signal_id").isNotNull())
        .alias("e")
        .join(t, F.col("t.tsid") == F.col("e.ts_signal_id"), "left")
        .select(
            F.col("e.entry_id").alias("entry_id"),
            F.lit("ts_signal_id").alias("mode"),
            F.col("e.ts_signal_id").alias("ts_signal_id"),
            F.col("e.ecd").alias("ecd"),
            F.col("t.orderkey").alias("orderkey"),
            F.col("t.pnl").alias("pnl"),
            F.col("t.pnl_pct").alias("pnl_pct"),
            F.when(F.col("t.orderkey").isNull(), F.lit(None).cast("boolean"))
            .otherwise(F.col("t.ticker") == F.col("e.symbol"))
            .alias("sym_ok"),
            F.col("t.date_only").alias("date_only"),
            F.col("t.trade_date").alias("trade_date"),
            F.col("t.off").alias("off"),
        )
    )
    grid = pend.filter(F.col("ts_signal_id").isNull()).withColumn(
        "gd",
        F.explode(
            F.array(
                F.date_sub(F.col("ecd"), _PLT_TOL_DAYS),
                F.col("ecd"),
                F.date_add(F.col("ecd"), _PLT_TOL_DAYS),
            )
        ),
    )
    pairs_b = (
        grid.alias("e")
        .join(
            t,
            (F.col("t.ticker") == F.col("e.symbol"))
            & (F.col("t.trade_date") == F.col("e.gd")),
            "left",
        )
        .select(
            F.col("e.entry_id").alias("entry_id"),
            F.lit("symbol_time_fallback").alias("mode"),
            F.col("e.ts_signal_id").alias("ts_signal_id"),
            F.col("e.ecd").alias("ecd"),
            F.col("t.orderkey").alias("orderkey"),
            F.col("t.pnl").alias("pnl"),
            F.col("t.pnl_pct").alias("pnl_pct"),
            F.when(
                F.col("t.orderkey").isNull(), F.lit(None).cast("boolean")
            )
            .otherwise(F.lit(True))
            .alias("sym_ok"),
            F.col("t.date_only").alias("date_only"),
            F.col("t.trade_date").alias("trade_date"),
            F.col("t.off").alias("off"),
        )
    )

    diff_sec = (
        F.datediff(F.col("trade_date"), F.col("ecd")) * 86400
        + F.col("off") * 300
    )
    valid_ts = (
        F.col("sym_ok")
        & ~F.col("date_only")
        & (F.abs(diff_sec) <= _PLT_TOL_SEC)
    )
    valid_fb = (
        F.col("sym_ok")
        & F.col("date_only")
        & (
            F.abs(F.datediff(F.col("trade_date"), F.col("ecd")))
            <= _PLT_TOL_DAYS
        )
    )
    valid = valid_ts | valid_fb
    flagged = pairs_a.unionByName(pairs_b).select(
        "*",
        valid_ts.alias("valid_ts"),
        valid_fb.alias("valid_fb"),
        valid.alias("valid"),
    )

    agg = flagged.groupBy("entry_id").agg(
        F.any_value("mode").alias("mode"),
        F.any_value("ts_signal_id").alias("ts_signal_id"),
        F.count("orderkey").alias("n_cand"),
        F.coalesce(
            F.sum(F.when(F.col("sym_ok"), 1).otherwise(0)), F.lit(0)
        ).alias("n_symok"),
        F.coalesce(
            F.sum(F.when(F.col("valid"), 1).otherwise(0)), F.lit(0)
        ).alias("n_valid"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("sym_ok")
                    & ~F.coalesce(F.col("valid"), F.lit(False)),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        ).alias("n_time_mm"),
        F.max(
            F.when(F.col("valid_ts"), 1).when(F.col("valid_fb"), 0)
        ).alias("sel_is_ts"),
        F.max(F.when(F.col("valid"), F.col("orderkey"))).alias(
            "sel_orderkey"
        ),
        F.max(F.when(F.col("valid"), F.col("pnl"))).alias("sel_pnl"),
        F.max(F.when(F.col("valid"), F.col("pnl_pct"))).alias(
            "sel_pnl_pct"
        ),
    )

    no_row = (F.col("n_cand") == 0) | (
        (F.col("n_symok") > 0)
        & (F.col("n_valid") == 0)
        & (F.col("n_time_mm") == 0)
    )
    classified = agg.join(
        open_ids, F.col("open_tsid") == F.col("ts_signal_id"), "left"
    ).select(
        "entry_id",
        "mode",
        F.when(
            no_row,
            F.when(
                F.col("ts_signal_id").isNotNull()
                & F.col("open_tsid").isNotNull(),
                "OPEN_ONLY_LIFECYCLE_LAG",
            ).otherwise("NO_ROW"),
        )
        .when(F.col("n_symok") == 0, "SYMBOL_MISMATCH")
        .when(F.col("n_valid") == 0, "TIME_MISMATCH")
        .when(F.col("n_valid") > 1, "MULTIPLE_ROWS")
        .otherwise("MATCHED")
        .alias("match_status"),
        F.when(
            (F.col("n_symok") > 0) & (F.col("n_valid") == 1),
            F.when(F.col("sel_is_ts") == 1, "timestamp").otherwise(
                "date_fallback"
            ),
        ).alias("match_anchor"),
        "sel_orderkey",
        "sel_pnl",
        "sel_pnl_pct",
    )

    cl = classified.alias("cl")
    matched = F.col("cl.match_status") == "MATCHED"
    return (
        ent.alias("e")
        .join(cl, F.col("cl.entry_id") == F.col("e.entry_id"), "left")
        .select(
            F.col("e.entry_id").alias("entry_id"),
            F.when(F.col("e.has_outcome"), "skip")
            .when(F.col("e.action") == "HOLD", "skip")
            .when(F.col("e.ecd") > as_of, "eligibility")
            .otherwise(F.col("cl.mode"))
            .alias("mode"),
            F.when(F.col("e.has_outcome"), "ALREADY_DONE")
            .when(F.col("e.action") == "HOLD", "HOLD_SKIPPED")
            .when(F.col("e.ecd") > as_of, "NOT_YET_ELIGIBLE")
            .otherwise(F.col("cl.match_status"))
            .alias("match_status"),
            F.when(matched, F.col("cl.match_anchor")).alias("match_anchor"),
            F.when(
                matched & (F.col("cl.match_anchor") == "date_fallback"),
                "DATE_FALLBACK_USED",
            ).alias("reason_code"),
            F.when(
                matched, F.when(F.col("cl.sel_pnl") > 0, 1).otherwise(0)
            ).alias("outcome_win"),
            F.when(matched, F.round(F.col("cl.sel_pnl"), 4)).alias(
                "outcome_pnl"
            ),
            F.when(matched, F.col("cl.sel_pnl_pct")).alias(
                "outcome_pnl_pct"
            ),
            F.when(matched, F.col("cl.sel_orderkey")).alias(
                "matched_orderkey"
            ),
        )
    )


@query(
    "date_fallback_slo_gate",
    oracle=f"""
    {_PLT_SQL},
    census AS (
      SELECT
        CAST(COUNT(*) AS BIGINT) AS total_entries,
        CAST(SUM(CASE WHEN match_status = 'ALREADY_DONE'
                      THEN 1 ELSE 0 END) AS BIGINT) AS already_done,
        CAST(SUM(CASE WHEN match_status = 'HOLD_SKIPPED'
                      THEN 1 ELSE 0 END) AS BIGINT) AS hold_skipped,
        CAST(SUM(CASE WHEN match_status = 'NOT_YET_ELIGIBLE'
                      THEN 1 ELSE 0 END) AS BIGINT) AS not_yet_eligible,
        CAST(SUM(CASE WHEN match_status NOT IN
                      ('ALREADY_DONE','HOLD_SKIPPED','NOT_YET_ELIGIBLE')
                      THEN 1 ELSE 0 END) AS BIGINT) AS pending,
        CAST(SUM(CASE WHEN match_status = 'MATCHED'
                      THEN 1 ELSE 0 END) AS BIGINT) AS matched_new,
        CAST(SUM(CASE WHEN match_anchor = 'timestamp'
                      THEN 1 ELSE 0 END) AS BIGINT) AS timestamp_matched,
        CAST(SUM(CASE WHEN match_anchor = 'date_fallback'
                      THEN 1 ELSE 0 END) AS BIGINT) AS date_fallback_matched
      FROM recon
    )
    SELECT total_entries, already_done, hold_skipped, not_yet_eligible,
           pending, matched_new,
           pending - matched_new AS still_pending,
           timestamp_matched, date_fallback_matched,
           ROUND(CASE WHEN matched_new > 0
                 THEN CAST(timestamp_matched AS DOUBLE) / matched_new
                 ELSE 0.0 END, 6) AS timestamp_match_rate,
           ROUND(CASE WHEN matched_new > 0
                 THEN CAST(date_fallback_matched AS DOUBLE) / matched_new
                 ELSE 0.0 END, 6) AS date_fallback_rate,
           {_PLT_SLO_MAX} AS slo_max_rate,
           CASE WHEN (CASE WHEN matched_new > 0
                      THEN CAST(date_fallback_matched AS DOUBLE) / matched_new
                      ELSE 0.0 END) <= {_PLT_SLO_MAX}
                THEN 'PASS' ELSE 'FAIL' END AS slo_verdict
    FROM census
    """,
)
def date_fallback_slo_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reconciliation run's date-fallback SLO — reference
    `scripts/update_platt_outcomes.py:100-152`
    (`_evaluate_date_fallback_slo`) + the run summary counters
    (`:1203-1219`): matched_new, timestamp vs date-fallback anchor
    censuses, timestamp_match_rate and date_fallback_rate (both 0.0 when
    nothing matched, `:1218-1219`), and the PASS/FAIL verdict against
    the 5% max fallback rate (`:48`). Single-run window: the reference's
    rolling history over prior runs degenerates to this run's rate.

    Scale: a single aggregate over the entry-grain reconciliation frame
    — one shuffle-free final fold after the reconciliation's joins."""
    recon = platt_outcome_reconciliation(spark, sf_dir)
    cnt = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    census = recon.agg(
        F.count(F.lit(1)).alias("total_entries"),
        cnt(F.col("match_status") == "ALREADY_DONE").alias("already_done"),
        cnt(F.col("match_status") == "HOLD_SKIPPED").alias("hold_skipped"),
        cnt(F.col("match_status") == "NOT_YET_ELIGIBLE").alias(
            "not_yet_eligible"
        ),
        cnt(
            ~F.col("match_status").isin(
                "ALREADY_DONE", "HOLD_SKIPPED", "NOT_YET_ELIGIBLE"
            )
        ).alias("pending"),
        cnt(F.col("match_status") == "MATCHED").alias("matched_new"),
        cnt(F.col("match_anchor") == "timestamp").alias(
            "timestamp_matched"
        ),
        cnt(F.col("match_anchor") == "date_fallback").alias(
            "date_fallback_matched"
        ),
    )
    mn = F.col("matched_new")
    fb_rate = F.when(
        mn > 0, F.col("date_fallback_matched").cast("double") / mn
    ).otherwise(F.lit(0.0))
    return census.select(
        "total_entries",
        "already_done",
        "hold_skipped",
        "not_yet_eligible",
        "pending",
        "matched_new",
        (F.col("pending") - mn).alias("still_pending"),
        "timestamp_matched",
        "date_fallback_matched",
        r6(
            F.when(
                mn > 0, F.col("timestamp_matched").cast("double") / mn
            ).otherwise(F.lit(0.0))
        ).alias("timestamp_match_rate"),
        r6(fb_rate).alias("date_fallback_rate"),
        F.lit(_PLT_SLO_MAX).alias("slo_max_rate"),
        F.when(fb_rate <= _PLT_SLO_MAX, "PASS")
        .otherwise("FAIL")
        .alias("slo_verdict"),
    )


# ---------------------------------------------------------------------------
# Unlinked-close repair plan — reference scripts/repair_unlinked_closes.py
# ---------------------------------------------------------------------------
# Engine mapping of the reference's trade_executions ledger: every lineitem
# is an execution leg (leg_id = l_orderkey*10 + l_linenumber); the
# max-linenumber leg of a multi-line order is its closing SELL, every other
# leg an opening BUY. Position state (position_before/position_after) is the
# per-ticker running sum of signed quantities in (trade_date, leg_id) order
# — the reference stores these columns, the engine derives them from the
# same ledger. Linkage state: closes with l_orderkey % 5 != 0 already carry
# trade_close_linkages rows (FIFO against their own order's open legs);
# closes with l_orderkey % 5 = 0 are the unlinked population to repair.
# Mode/hygiene flags: synthetic when l_orderkey % 4 = 0, contaminated when
# l_orderkey % 17 = 0 (plants the clean-live refusal rung).
_UCR_EPS = 1e-9
_UCR_KEYMUL = 1_000_000_000_000  # sortkey = epoch_days * mul + leg_id

_UCR_SQL = f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    legs0 AS (
      -- leg grain = (orderkey, linenumber); the synthetic lineitem can
      -- repeat a linenumber, so legs collapse to SUM(qty)/MAX(shipdate)
      SELECT l.l_orderkey * 10 + l.l_linenumber AS leg_id,
             l.l_orderkey AS orderkey, l.l_linenumber AS ln,
             ANY_VALUE('T' || CAST(o.o_custkey % 25 AS VARCHAR)) AS ticker,
             MAX(CAST(l.l_shipdate AS DATE)) AS trade_date,
             SUM(CAST(l.l_quantity AS DOUBLE)) AS shares,
             (l.l_linenumber = ANY_VALUE(m.maxline)
              AND ANY_VALUE(m.maxline) > 1) AS is_close,
             (l.l_orderkey % 4 = 0) AS is_synthetic,
             (l.l_orderkey % 17 = 0) AS is_contaminated
      FROM lineitem l
      JOIN mx m ON m.l_orderkey = l.l_orderkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_orderkey, l.l_linenumber
    ),
    legs1 AS (
      SELECT *,
             (CAST(trade_date - DATE '1970-01-01' AS BIGINT))
               * {_UCR_KEYMUL} + leg_id AS sortkey,
             CASE WHEN is_close THEN -shares ELSE shares END AS signed_qty
      FROM legs0
    ),
    legs2 AS (
      SELECT *,
             SUM(signed_qty) OVER (PARTITION BY ticker ORDER BY sortkey
               ROWS UNBOUNDED PRECEDING) AS position_after
      FROM legs1
    ),
    legs3 AS (
      SELECT *,
             CAST(SIGN(position_after) AS INTEGER) AS sign_after,
             LAG(CAST(SIGN(position_after) AS INTEGER))
               OVER (PARTITION BY ticker ORDER BY sortkey) AS prev_sign0
      FROM legs2
    ),
    legs AS (
      SELECT *,
             SUM(CASE WHEN prev_sign0 IS NULL
                        OR sign_after <> prev_sign0
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY ticker ORDER BY sortkey
                     ROWS UNBOUNDED PRECEDING) AS seg
      FROM legs3
    ),
    -- existing linkages: linked closes FIFO-consume their own order's opens
    linked_used AS (
      SELECT e.leg_id AS entry_leg_id,
             GREATEST(LEAST(
               c.shares - COALESCE(SUM(e2.shares), 0.0), e.shares), 0.0)
               AS used_qty
      FROM legs e
      JOIN legs c ON c.orderkey = e.orderkey AND c.is_close
                 AND c.orderkey % 5 <> 0
      LEFT JOIN legs e2 ON e2.orderkey = e.orderkey AND NOT e2.is_close
                       AND e2.ln < e.ln
      WHERE NOT e.is_close
      GROUP BY e.leg_id, e.shares, c.shares
    ),
    orphans AS (
      SELECT g.*, COALESCE(u.used_qty, 0.0) AS used_qty,
             GREATEST(g.shares - COALESCE(u.used_qty, 0.0), 0.0)
               AS remaining_qty
      FROM legs g
      LEFT JOIN linked_used u ON u.entry_leg_id = g.leg_id
      WHERE NOT g.is_close
        AND GREATEST(g.shares - COALESCE(u.used_qty, 0.0), 0.0) > 0.0
    ),
    uncl AS (
      SELECT l.*,
             LAG(l.seg) OVER (PARTITION BY l.ticker ORDER BY l.sortkey)
               AS prev_seg
      FROM legs l
    ),
    closes AS (
      SELECT leg_id AS close_id, ticker, trade_date AS close_date,
             sortkey, shares AS close_size,
             COALESCE(prev_sign0, 0) AS target_sign, prev_seg,
             (NOT is_synthetic AND NOT is_contaminated) AS clean_live
      FROM uncl
      WHERE is_close AND orderkey % 5 = 0
    ),
    tick_inv AS (
      SELECT ticker, SUM(remaining_qty) AS broad_inv,
             CAST(COUNT(*) AS BIGINT) AS n_orphans
      FROM orphans GROUP BY ticker
    ),
    run_inv AS (
      SELECT c.close_id,
             SUM(o.remaining_qty) AS run_inv_all,
             SUM(CASE WHEN NOT o.is_synthetic
                      THEN o.remaining_qty ELSE 0.0 END) AS run_inv_clean
      FROM closes c
      JOIN orphans o ON o.ticker = c.ticker AND o.seg = c.prev_seg
                    AND o.sortkey < c.sortkey
      GROUP BY c.close_id
    ),
    strat AS (
      SELECT c.*,
             COALESCE(t.n_orphans, 0) AS n_orphans,
             COALESCE(t.broad_inv, 0.0) AS broad_inv,
             CASE WHEN c.clean_live
                  THEN COALESCE(r.run_inv_clean, 0.0)
                  ELSE COALESCE(r.run_inv_all, 0.0) END AS run_inv,
             CASE
               WHEN COALESCE(t.n_orphans, 0) = 0 THEN 'no_orphans'
               WHEN c.target_sign <> 0
                    AND (CASE WHEN c.clean_live
                         THEN COALESCE(r.run_inv_clean, 0.0)
                         ELSE COALESCE(r.run_inv_all, 0.0) END)
                        >= c.close_size - {_UCR_EPS}
                    AND c.close_size > 0
                 THEN 'current_position_run'
               WHEN c.clean_live THEN 'clean_live_no_current_run_match'
               WHEN COALESCE(t.broad_inv, 0.0) >= c.close_size - {_UCR_EPS}
                    AND c.close_size > 0
                 THEN 'broad_orphan_match'
               ELSE 'insufficient_orphan_inventory'
             END AS strategy
      FROM closes c
      LEFT JOIN tick_inv t ON t.ticker = c.ticker
      LEFT JOIN run_inv r ON r.close_id = c.close_id
    ),
    pool AS (
      SELECT s.close_id, s.close_size, o.leg_id AS entry_id,
             o.sortkey AS esort, o.remaining_qty,
             (o.trade_date <= s.close_date) AS date_ok
      FROM strat s
      JOIN orphans o ON o.ticker = s.ticker AND o.seg = s.prev_seg
                    AND o.sortkey < s.sortkey
                    AND (NOT s.clean_live OR NOT o.is_synthetic)
      WHERE s.strategy = 'current_position_run'
      UNION ALL
      SELECT s.close_id, s.close_size, o.leg_id, o.sortkey,
             o.remaining_qty, (o.trade_date <= s.close_date)
      FROM strat s
      JOIN orphans o ON o.ticker = s.ticker
      WHERE s.strategy = 'broad_orphan_match'
    ),
    fifo0 AS (
      SELECT *,
             COALESCE(SUM(CASE WHEN date_ok THEN remaining_qty END)
               OVER (PARTITION BY close_id ORDER BY esort
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0.0) AS prefix_before
      FROM pool
    ),
    fifo AS (
      SELECT close_id,
             SUM(CASE WHEN date_ok THEN remaining_qty ELSE 0.0 END)
               AS avail,
             (SUM(CASE WHEN date_ok THEN remaining_qty ELSE 0.0 END)
               >= ANY_VALUE(close_size) - {_UCR_EPS}) AS complete,
             SUM(CASE WHEN date_ok
                       AND prefix_before < close_size - {_UCR_EPS}
                       AND remaining_qty > {_UCR_EPS}
                      THEN 1 ELSE 0 END) AS n_alloc,
             MIN(CASE WHEN date_ok
                       AND prefix_before < close_size - {_UCR_EPS}
                       AND remaining_qty > {_UCR_EPS}
                      THEN esort END) AS first_sort,
             MAX(CASE WHEN date_ok
                       AND prefix_before < close_size - {_UCR_EPS}
                       AND remaining_qty > {_UCR_EPS}
                      THEN esort END) AS last_sort
      FROM fifo0 GROUP BY close_id
    ),
    plan AS (
      SELECT s.close_id, s.ticker,
             CAST(s.close_date AS VARCHAR) AS close_date,
             ROUND(s.close_size, 6) AS close_size,
             CASE WHEN s.clean_live THEN 1 ELSE 0 END AS clean_live,
             s.target_sign, s.strategy,
             ROUND(s.run_inv, 6) AS run_inventory,
             ROUND(s.broad_inv, 6) AS broad_inventory,
             ROUND(COALESCE(f.avail, 0.0), 6) AS fifo_available,
             CASE WHEN COALESCE(f.complete, FALSE) THEN 1 ELSE 0 END
               AS fifo_complete,
             CASE WHEN COALESCE(f.complete, FALSE)
                  THEN CAST(f.n_alloc AS BIGINT) ELSE 0 END
               AS n_allocations,
             ROUND(CASE WHEN COALESCE(f.complete, FALSE)
                   THEN s.close_size ELSE 0.0 END, 6) AS allocated_total,
             CASE WHEN COALESCE(f.complete, FALSE)
                  THEN f.first_sort % {_UCR_KEYMUL} END AS first_entry_id,
             CASE WHEN COALESCE(f.complete, FALSE)
                  THEN f.last_sort % {_UCR_KEYMUL} END AS last_entry_id,
             CASE WHEN COALESCE(f.complete, FALSE)
                    THEN 'matched_existing_orphan_entry:' || s.strategy
                  WHEN s.strategy = 'clean_live_no_current_run_match'
                    THEN 'refused_clean_live_broad_repair'
                  ELSE 'no_match' END AS repair_reason
      FROM strat s
      LEFT JOIN fifo f ON f.close_id = s.close_id
    )
"""


@session_frame_cache
def _ucr_frames(spark: SparkSession, sf_dir: str):
    """Shared ledger frames for the unlinked-close repair: legs with
    derived position state, the orphan open-lot inventory, and the
    unlinked-close population."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ok = F.col("l_orderkey")
    # maxline as a window over the SAME key the groupBy below needs
    # (guide §2.4): replaces the old aggregate+self-join pass over
    # lineitem, and the (l_orderkey, l_linenumber) groupBy reuses the
    # window's hash(l_orderkey) partitioning (a subset of the grouping
    # key), so the leg frame costs one exchange of the stream, not three
    legs0 = (
        li.withColumn(
            "maxline",
            F.max("l_linenumber").over(Window.partitionBy("l_orderkey")),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            F.any_value(
                F.concat(
                    F.lit("T"), (F.col("o_custkey") % 25).cast("string")
                )
            ).alias("ticker"),
            F.max(F.to_date("l_shipdate")).alias("trade_date"),
            F.sum(F.col("l_quantity").cast("double")).alias("shares"),
            (
                (F.col("l_linenumber") == F.any_value("maxline"))
                & (F.any_value("maxline") > 1)
            ).alias("is_close"),
        )
        .select(
            (ok * 10 + F.col("l_linenumber")).alias("leg_id"),
            ok.alias("orderkey"),
            F.col("l_linenumber").alias("ln"),
            "ticker",
            "trade_date",
            "shares",
            "is_close",
            (ok % 4 == 0).alias("is_synthetic"),
            (ok % 17 == 0).alias("is_contaminated"),
        )
        .withColumn(
            "sortkey",
            F.datediff(F.col("trade_date"), F.lit("1970-01-01")).cast(
                "long"
            )
            * _UCR_KEYMUL
            + F.col("leg_id"),
        )
        .withColumn(
            "signed_qty",
            F.when(F.col("is_close"), -F.col("shares")).otherwise(
                F.col("shares")
            ),
        )
    )
    w = Window.partitionBy("ticker").orderBy("sortkey")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    legs = (
        legs0.withColumn("position_after", F.sum("signed_qty").over(wcum))
        .withColumn(
            "sign_after", F.signum(F.col("position_after")).cast("int")
        )
        .withColumn("prev_sign0", F.lag("sign_after").over(w))
        .withColumn(
            "seg",
            F.sum(
                F.when(
                    F.col("prev_sign0").isNull()
                    | (F.col("sign_after") != F.col("prev_sign0")),
                    1,
                ).otherwise(0)
            ).over(wcum),
        )
        .withColumn("prev_seg", F.lag("seg").over(w))
        # one materialization feeds every downstream frame (orphans,
        # closes, linked-size lookup) instead of re-running the joins
        # and the three window passes per consumer
        .localCheckpoint()
    )

    # linked closes FIFO-consume their own order's open legs
    worder = Window.partitionBy("orderkey").orderBy("ln")
    entries = legs.filter(~F.col("is_close")).withColumn(
        "prefix_shares",
        F.coalesce(
            F.sum("shares").over(
                worder.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0.0),
        ),
    )
    linked_close_sz = (
        legs.filter(F.col("is_close") & (F.col("orderkey") % 5 != 0))
        .groupBy("orderkey")
        .agg(F.any_value("shares").alias("close_shares"))
    )
    orphans = (
        entries.join(linked_close_sz, "orderkey", "left")
        .withColumn(
            "used_qty",
            F.when(
                F.col("close_shares").isNotNull(),
                F.greatest(
                    F.least(
                        F.col("close_shares") - F.col("prefix_shares"),
                        F.col("shares"),
                    ),
                    F.lit(0.0),
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "remaining_qty",
            F.greatest(
                F.col("shares") - F.col("used_qty"), F.lit(0.0)
            ),
        )
        .filter(F.col("remaining_qty") > 0.0)
        # consumed by 4 downstream joins (tick_inv, run_inv, both pools):
        # materialize once instead of re-deriving the windowed ledger
        .localCheckpoint()
    )

    closes = legs.filter(
        F.col("is_close") & (F.col("orderkey") % 5 == 0)
    ).select(
        F.col("leg_id").alias("close_id"),
        "ticker",
        F.col("trade_date").alias("close_date"),
        F.col("sortkey").alias("csort"),
        F.col("shares").alias("close_size"),
        F.coalesce(F.col("prev_sign0"), F.lit(0)).alias("target_sign"),
        "prev_seg",
        (~F.col("is_synthetic") & ~F.col("is_contaminated")).alias(
            "clean_live"
        ),
    )  # cheap filter over the checkpointed legs — no re-materialization
    return orphans, closes


@query("unlinked_close_repair_plan", oracle=f"{_UCR_SQL} SELECT * FROM plan")
def unlinked_close_repair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dry-run repair plan for closing legs with no entry linkage —
    reference `scripts/repair_unlinked_closes.py`: unlinked-close
    discovery (`find_unlinked_closes:150-176`), the orphan open-lot
    inventory with linkage-consumed quantities
    (`find_orphaned_entries:178-213`), the current-position-run
    boundary scan (last prior row whose position sign is zero or
    opposite the close's position_before sign,
    `_current_position_run_entry_ids:223-258`), the candidate-selection
    ladder (`_select_candidate_entries:265-296`: current-run inventory
    first, clean live closes refuse broad repair, broad orphan pool
    otherwise, insufficient-inventory fall-through) and FIFO allocation
    in (entry_date, entry_id) order over lots dated at or before the
    close (`match_fifo_allocations:298-344`; all-or-nothing: a close
    whose pool cannot cover it yields no allocations). One row per
    unlinked close with the chosen strategy, inventories, allocation
    census and the repair/refusal reason (`repair_linkage:539-640`).

    Dry-run grain (the script's default): each close is planned against
    the linkage state as stored — allocations are not replayed into the
    next close's inventory, matching `--dry-run` semantics.

    Scale: position state is a per-ticker ordered running sum (the
    ledger's own grain); run-pool pairing is an equi-join on
    (ticker, sign-streak segment); the broad-pool join is keyed on
    ticker — the reference's own per-close full-orphan scan, bounded by
    the orphan inventory per symbol. No broadcast of a corpus-scaled
    side; FIFO is one window prefix-sum per close pool."""
    orphans, closes = _ucr_frames(spark, sf_dir)
    from pyspark.sql import Window

    tick_inv = orphans.groupBy("ticker").agg(
        F.sum("remaining_qty").alias("broad_inv"),
        F.count(F.lit(1)).alias("n_orphans"),
    )
    o_, c_ = orphans.alias("o"), closes.alias("c")
    run_inv = (
        c_.join(
            o_,
            (F.col("o.ticker") == F.col("c.ticker"))
            & (F.col("o.seg") == F.col("c.prev_seg"))
            & (F.col("o.sortkey") < F.col("c.csort")),
        )
        .groupBy("c.close_id")
        .agg(
            F.sum("o.remaining_qty").alias("run_inv_all"),
            F.sum(
                F.when(
                    ~F.col("o.is_synthetic"), F.col("o.remaining_qty")
                ).otherwise(0.0)
            ).alias("run_inv_clean"),
        )
        .select(F.col("close_id"), "run_inv_all", "run_inv_clean")
    )
    run_inv_pick = F.when(
        F.col("clean_live"), F.coalesce(F.col("run_inv_clean"), F.lit(0.0))
    ).otherwise(F.coalesce(F.col("run_inv_all"), F.lit(0.0)))
    strat = (
        closes.join(tick_inv, "ticker", "left")
        .join(run_inv, "close_id", "left")
        .select(
            "*",
            F.coalesce(F.col("n_orphans"), F.lit(0)).alias("n_orph"),
            F.coalesce(F.col("broad_inv"), F.lit(0.0)).alias("binv"),
            run_inv_pick.alias("rinv"),
        )
        .withColumn(
            "strategy",
            F.when(F.col("n_orph") == 0, "no_orphans")
            .when(
                (F.col("target_sign") != 0)
                & (F.col("rinv") >= F.col("close_size") - _UCR_EPS)
                & (F.col("close_size") > 0),
                "current_position_run",
            )
            .when(F.col("clean_live"), "clean_live_no_current_run_match")
            .when(
                (F.col("binv") >= F.col("close_size") - _UCR_EPS)
                & (F.col("close_size") > 0),
                "broad_orphan_match",
            )
            .otherwise("insufficient_orphan_inventory"),
        )
    )

    s_ = strat.alias("s")
    pool_cols = [
        F.col("s.close_id").alias("close_id"),
        F.col("s.close_size").alias("close_size"),
        F.col("o.leg_id").alias("entry_id"),
        F.col("o.sortkey").alias("esort"),
        F.col("o.remaining_qty").alias("remaining_qty"),
        (F.col("o.trade_date") <= F.col("s.close_date")).alias("date_ok"),
    ]
    pool_run = (
        s_.filter(F.col("strategy") == "current_position_run")
        .join(
            o_,
            (F.col("o.ticker") == F.col("s.ticker"))
            & (F.col("o.seg") == F.col("s.prev_seg"))
            & (F.col("o.sortkey") < F.col("s.csort"))
            & (~F.col("s.clean_live") | ~F.col("o.is_synthetic")),
        )
        .select(*pool_cols)
    )
    pool_broad = (
        s_.filter(F.col("strategy") == "broad_orphan_match")
        .join(o_, F.col("o.ticker") == F.col("s.ticker"))
        .select(*pool_cols)
    )
    wfifo = Window.partitionBy("close_id").orderBy("esort")
    fifo0 = pool_run.unionByName(pool_broad).withColumn(
        "prefix_before",
        F.coalesce(
            F.sum(
                F.when(F.col("date_ok"), F.col("remaining_qty"))
            ).over(wfifo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0.0),
        ),
    )
    alloc = (
        F.col("date_ok")
        & (F.col("prefix_before") < F.col("close_size") - _UCR_EPS)
        & (F.col("remaining_qty") > _UCR_EPS)
    )
    fifo = fifo0.groupBy("close_id").agg(
        F.sum(
            F.when(F.col("date_ok"), F.col("remaining_qty")).otherwise(0.0)
        ).alias("avail"),
        (
            F.sum(
                F.when(F.col("date_ok"), F.col("remaining_qty")).otherwise(
                    0.0
                )
            )
            >= F.any_value(F.col("close_size")) - _UCR_EPS
        ).alias("complete"),
        F.sum(F.when(alloc, 1).otherwise(0)).alias("n_alloc"),
        F.min(F.when(alloc, F.col("esort"))).alias("first_sort"),
        F.max(F.when(alloc, F.col("esort"))).alias("last_sort"),
    )

    done = F.coalesce(F.col("complete"), F.lit(False))
    return strat.join(fifo, "close_id", "left").select(
        "close_id",
        "ticker",
        F.col("close_date").cast("string").alias("close_date"),
        r6(F.col("close_size")).alias("close_size"),
        F.when(F.col("clean_live"), 1).otherwise(0).alias("clean_live"),
        "target_sign",
        "strategy",
        r6(F.col("rinv")).alias("run_inventory"),
        r6(F.col("binv")).alias("broad_inventory"),
        r6(F.coalesce(F.col("avail"), F.lit(0.0))).alias("fifo_available"),
        F.when(done, 1).otherwise(0).alias("fifo_complete"),
        F.when(done, F.col("n_alloc").cast("long"))
        .otherwise(F.lit(0).cast("long"))
        .alias("n_allocations"),
        r6(
            F.when(done, F.col("close_size")).otherwise(F.lit(0.0))
        ).alias("allocated_total"),
        F.when(done, F.col("first_sort") % _UCR_KEYMUL).alias(
            "first_entry_id"
        ),
        F.when(done, F.col("last_sort") % _UCR_KEYMUL).alias(
            "last_entry_id"
        ),
        F.when(
            done,
            F.concat(
                F.lit("matched_existing_orphan_entry:"), F.col("strategy")
            ),
        )
        .when(
            F.col("strategy") == "clean_live_no_current_run_match",
            "refused_clean_live_broad_repair",
        )
        .otherwise("no_match")
        .alias("repair_reason"),
    )


# ---------------------------------------------------------------------------
# Directional-classifier evaluation suite —
# reference scripts/evaluate_directional_classifier.py
# ---------------------------------------------------------------------------
# Constants mirror the reference: _ECE_N_BINS=10 (`:46`), cold-start floor
# n>=60 with >=10 per class (`:45,459`), counterfactual thresholds 0.55/0.55
# (`:213-217`), sweep grid 0.50..0.90 step 0.05 with min_gated=10
# (`:364-381`), fallback threshold 0.55 (`:385`).
_DCE_MIN_N = 60
_DCE_MIN_CLASS = 10
_DCE_MIN_GATED = 10
_DCE_THRESH = [0.50, 0.55, 0.60, 0.65, 0.70, 0.75, 0.80, 0.85, 0.90]
_DCE_BUY_T = 0.55
_DCE_SELL_T = 0.55

# Evaluation pairs reuse the accumulation pack's signal/outcome frame
# (click events whose key's first same-day purchase supplies the label);
# the calibrated probability channel is a deterministic planted-signal
# fixture: p = clamp(0.35 + 0.45*u + 0.15*y) with u the portable-md5
# uniform — correlated with the label so gate lift is non-degenerate.
_DCE_PAIRS_SQL = """
    WITH ev AS (
      SELECT user_id, ts, event_id, value, event_type,
             CAST(ts AS DATE) AS d,
             ('0x' || SUBSTR(MD5('dce|' || CAST(event_id AS VARCHAR)),
                             1, 6))::BIGINT / 16777216.0 AS u
      FROM events WHERE value > 0
    ),
    outc AS (
      SELECT user_id, d, value AS exit_value,
             ROW_NUMBER() OVER (PARTITION BY user_id, d
                                ORDER BY ts, event_id) AS ork
      FROM ev WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT s.event_id,
             CASE WHEN o.exit_value > s.value THEN 1.0 ELSE 0.0 END AS y,
             LEAST(0.999, GREATEST(0.001,
               ROUND(0.35 + 0.45 * s.u
                     + 0.15 * CASE WHEN o.exit_value > s.value
                              THEN 1.0 ELSE 0.0 END, 6))) AS p
      FROM ev s
      JOIN outc o ON o.user_id = s.user_id AND o.d = s.d AND o.ork = 1
      WHERE s.event_type = 'click'
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg,
             AVG(y) AS baseline_wr
      FROM pairs
    )
"""

_DCE_TLIST = ", ".join(f"{t:.2f}" for t in _DCE_THRESH)

@query(
    "directional_classifier_eval",
    oracle=f"""
    {_DCE_PAIRS_SQL},
    cold AS (
      SELECT (n_total < {_DCE_MIN_N} OR n_pos < {_DCE_MIN_CLASS}
              OR n_neg < {_DCE_MIN_CLASS}) AS cold_start
      FROM tot
    ),
    bins AS (
      SELECT LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS b,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             AVG(p) AS conf, AVG(y) AS acc
      FROM pairs GROUP BY 1
    ),
    bin_grid AS (
      SELECT t.b, COALESCE(bi.cnt, 0) AS cnt, bi.conf, bi.acc,
             CAST(COALESCE(bi.cnt, 0) AS DOUBLE)
               / (SELECT n_total FROM tot) AS frac
      FROM (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS b) t
      LEFT JOIN bins bi ON bi.b = t.b
    ),
    ece AS (
      SELECT SUM(frac * ABS(conf - acc)) AS ece
      FROM bin_grid WHERE cnt > 0
    ),
    cf AS (
      SELECT CAST(SUM(CASE WHEN p >= {_DCE_BUY_T} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_buy,
             AVG(CASE WHEN p >= {_DCE_BUY_T} THEN y END) AS buy_wr,
             CAST(SUM(CASE WHEN p <= 1.0 - {_DCE_SELL_T}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_sell,
             AVG(CASE WHEN p <= 1.0 - {_DCE_SELL_T} THEN 1.0 - y END)
               AS sell_wr,
             CAST(SUM(CASE WHEN p < {_DCE_BUY_T}
                            AND p > 1.0 - {_DCE_SELL_T}
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
      FROM pairs
    ),
    sweep AS (
      SELECT t.thresh,
             CAST(COALESCE(SUM(CASE WHEN p.p >= t.thresh
                          THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_gated,
             AVG(CASE WHEN p.p >= t.thresh THEN p.y END) AS gated_wr
      FROM (SELECT UNNEST([{_DCE_TLIST}]) AS thresh) t
      CROSS JOIN pairs p
      GROUP BY t.thresh
    ),
    sweep2 AS (
      SELECT s.thresh, s.n_gated, s.gated_wr,
             ROUND(s.gated_wr - (SELECT baseline_wr FROM tot), 6) AS lift6,
             (s.n_gated >= {_DCE_MIN_GATED}) AS eligible
      FROM sweep s
    ),
    best AS (
      SELECT * FROM sweep2 WHERE eligible
      ORDER BY lift6 DESC, thresh ASC LIMIT 1
    ),
    out AS (
      SELECT 'summary' AS section, 'cold_start_check' AS key,
             n_total AS n, CAST(n_pos AS DOUBLE) AS m1,
             CAST(n_neg AS DOUBLE) AS m2, CAST(NULL AS DOUBLE) AS m3,
             CASE WHEN (SELECT cold_start FROM cold)
                  THEN 'COLD_START' ELSE 'OK' END AS verdict
      FROM tot
      UNION ALL
      SELECT 'summary', 'ece', (SELECT n_total FROM tot),
             ROUND(ece, 4), NULL, NULL, NULL
      FROM ece WHERE NOT (SELECT cold_start FROM cold)
      UNION ALL
      SELECT 'ece_bin', PRINTF('%.2f-%.2f', b / 10.0, (b + 1) / 10.0),
             cnt, ROUND(conf, 4), ROUND(acc, 4), ROUND(frac, 4), NULL
      FROM bin_grid WHERE NOT (SELECT cold_start FROM cold)
      UNION ALL
      SELECT 'counterfactual', 'baseline', n_total,
             ROUND(baseline_wr, 4), NULL, NULL, NULL
      FROM tot WHERE NOT (SELECT cold_start FROM cold)
      UNION ALL
      SELECT 'counterfactual', 'gated_buy', n_buy, ROUND(buy_wr, 4),
             NULL, ROUND(buy_wr - (SELECT baseline_wr FROM tot), 4), NULL
      FROM cf WHERE NOT (SELECT cold_start FROM cold)
      UNION ALL
      SELECT 'counterfactual', 'gated_sell', n_sell, ROUND(sell_wr, 4),
             NULL, NULL, NULL
      FROM cf WHERE NOT (SELECT cold_start FROM cold)
      UNION ALL
      SELECT 'counterfactual', 'blocked', n_blocked, NULL, NULL, NULL,
             NULL
      FROM cf WHERE NOT (SELECT cold_start FROM cold)
      UNION ALL
      SELECT 'gate_sweep', PRINTF('%.2f', thresh), n_gated,
             ROUND(gated_wr, 4), NULL, ROUND(lift6, 4),
             CASE WHEN eligible THEN 'eligible' ELSE 'below_min' END
      FROM sweep2 WHERE NOT (SELECT cold_start FROM cold)
      UNION ALL
      SELECT 'gate_optimal',
             PRINTF('%.2f', COALESCE((SELECT thresh FROM best), 0.55)),
             COALESCE((SELECT n_gated FROM best), 0),
             ROUND((SELECT gated_wr FROM best), 4), NULL,
             ROUND((SELECT lift6 FROM best), 4),
             CASE WHEN EXISTS (SELECT 1 FROM best)
                  THEN 'optimized' ELSE 'fallback_uncalibrated' END
      WHERE NOT (SELECT cold_start FROM cold)
    )
    SELECT * FROM out
    """,
)
def directional_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional-classifier evaluation suite — reference
    `scripts/evaluate_directional_classifier.py`: the cold-start gate
    (n>=60 with >=10 per class, `:45,459-471`), the 10-bin ECE
    decomposition with empty-bin rows (`_ece_decomposition:165-210`),
    the win-rate counterfactual at the production 0.55/0.55 gate —
    gated-BUY and gated-SELL win rates vs the all-BUY baseline and the
    blocked census (`_win_rate_counterfactual:213-266`) — and the
    data-driven gate-threshold sweep over 0.50..0.90 step 0.05 with the
    10-example eligibility floor and the explicit uncalibrated-0.55
    fallback verdict (`_optimal_gate_threshold:364-410`). The sklearn
    walk-forward refit itself (`_walk_forward_da:53-158`) is the same
    harness shape as the engine's `blocked_cv_validation` /
    `walkforward_refit_eval`; this query carries the evaluation
    algebra. Probability channel: deterministic planted-signal fixture
    (documented above `_DCE_PAIRS_SQL`).

    Scale: one scan builds the pairs frame (checkpointed once); every
    section is a bounded aggregate over it — the bin grid is 10 rows,
    the sweep 9 thresholds folded in a single grouped pass; the argmax
    is over 9 rows. No corpus-scaled broadcast, no window over the full
    frame except the per-(user,day) first-purchase rank the
    accumulation pack already uses."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select(
            "user_id",
            "ts",
            "event_id",
            "value",
            "event_type",
            F.to_date("ts").alias("d"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("dce|"), F.col("event_id").cast("string")
                            )
                        ),
                        1,
                        6,
                    ),
                    16,
                    10,
                ).cast("long")
                / 16777216.0
            ).alias("u"),
        )
    )
    from pyspark.sql import Window

    outc = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn(
            "ork",
            F.row_number().over(
                Window.partitionBy("user_id", "d").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("ork") == 1)
        .select("user_id", "d", F.col("value").alias("exit_value"))
    )
    y = F.when(F.col("exit_value") > F.col("value"), 1.0).otherwise(0.0)
    pairs = (
        ev.filter(F.col("event_type") == "click")
        .join(outc, ["user_id", "d"])
        .select(
            "event_id",
            y.alias("y"),
            F.least(
                F.lit(0.999),
                F.greatest(
                    F.lit(0.001),
                    F.round(
                        0.35 + 0.45 * F.col("u") + 0.15 * y, 6
                    ),
                ),
            ).alias("p"),
        )
        .localCheckpoint()
    )

    tot = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum("y").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("n_neg"),
        F.avg("y").alias("baseline_wr"),
    ).collect()[0]
    n_total, n_pos, n_neg = tot["n_total"], tot["n_pos"], tot["n_neg"]
    baseline = tot["baseline_wr"]
    cold = (
        n_total < _DCE_MIN_N
        or n_pos < _DCE_MIN_CLASS
        or n_neg < _DCE_MIN_CLASS
    )

    def row_schema(df):
        return df.select(
            F.col("section").cast("string"),
            F.col("key").cast("string"),
            F.col("n").cast("long"),
            F.col("m1").cast("double"),
            F.col("m2").cast("double"),
            F.col("m3").cast("double"),
            F.col("verdict").cast("string"),
        )

    summary = spark.createDataFrame(
        [
            (
                "summary",
                "cold_start_check",
                n_total,
                float(n_pos),
                float(n_neg),
                None,
                "COLD_START" if cold else "OK",
            )
        ],
        "section string, key string, n long, m1 double, m2 double, "
        "m3 double, verdict string",
    )
    if cold:
        return summary

    bins = pairs.groupBy(
        F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.avg("p").alias("conf"),
        F.avg("y").alias("acc"),
    )
    grid = (
        spark.range(10)
        .select(F.col("id").cast("int").alias("b"))
        .join(bins, "b", "left")
        .select(
            "b",
            F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt"),
            "conf",
            "acc",
            (
                F.coalesce(F.col("cnt"), F.lit(0)).cast("double") / n_total
            ).alias("frac"),
        )
        .localCheckpoint()
    )
    ece_row = grid.filter(F.col("cnt") > 0).agg(
        F.round(F.sum(F.col("frac") * F.abs(F.col("conf") - F.col("acc"))), 4)
        .alias("ece")
    )
    ece_out = ece_row.select(
        F.lit("summary").alias("section"),
        F.lit("ece").alias("key"),
        F.lit(n_total).alias("n"),
        F.col("ece").alias("m1"),
        F.lit(None).alias("m2"),
        F.lit(None).alias("m3"),
        F.lit(None).alias("verdict"),
    )
    bins_out = grid.select(
        F.lit("ece_bin").alias("section"),
        F.format_string(
            "%.2f-%.2f", F.col("b") / 10.0, (F.col("b") + 1) / 10.0
        ).alias("key"),
        F.col("cnt").alias("n"),
        F.round("conf", 4).alias("m1"),
        F.round("acc", 4).alias("m2"),
        F.round("frac", 4).alias("m3"),
        F.lit(None).alias("verdict"),
    )

    cf = pairs.agg(
        F.sum(F.when(F.col("p") >= _DCE_BUY_T, 1).otherwise(0))
        .cast("long")
        .alias("n_buy"),
        F.avg(F.when(F.col("p") >= _DCE_BUY_T, F.col("y"))).alias("buy_wr"),
        F.sum(F.when(F.col("p") <= 1.0 - _DCE_SELL_T, 1).otherwise(0))
        .cast("long")
        .alias("n_sell"),
        F.avg(
            F.when(F.col("p") <= 1.0 - _DCE_SELL_T, 1.0 - F.col("y"))
        ).alias("sell_wr"),
        F.sum(
            F.when(
                (F.col("p") < _DCE_BUY_T)
                & (F.col("p") > 1.0 - _DCE_SELL_T),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_blocked"),
    ).localCheckpoint()
    cf_out = (
        cf.select(
            F.lit("counterfactual").alias("section"),
            F.lit("baseline").alias("key"),
            F.lit(n_total).alias("n"),
            F.round(F.lit(baseline), 4).alias("m1"),
            F.lit(None).alias("m2"),
            F.lit(None).alias("m3"),
            F.lit(None).alias("verdict"),
        )
        .unionByName(
            cf.select(
                F.lit("counterfactual").alias("section"),
                F.lit("gated_buy").alias("key"),
                F.col("n_buy").alias("n"),
                F.round("buy_wr", 4).alias("m1"),
                F.lit(None).alias("m2"),
                F.round(F.col("buy_wr") - baseline, 4).alias("m3"),
                F.lit(None).alias("verdict"),
            )
        )
        .unionByName(
            cf.select(
                F.lit("counterfactual").alias("section"),
                F.lit("gated_sell").alias("key"),
                F.col("n_sell").alias("n"),
                F.round("sell_wr", 4).alias("m1"),
                F.lit(None).alias("m2"),
                F.lit(None).alias("m3"),
                F.lit(None).alias("verdict"),
            )
        )
        .unionByName(
            cf.select(
                F.lit("counterfactual").alias("section"),
                F.lit("blocked").alias("key"),
                F.col("n_blocked").alias("n"),
                F.lit(None).alias("m1"),
                F.lit(None).alias("m2"),
                F.lit(None).alias("m3"),
                F.lit(None).alias("verdict"),
            )
        )
    )

    tgrid = literal_grid(
        spark, [(t,) for t in _DCE_THRESH], "thresh double"
    )
    sweep = (
        tgrid.crossJoin(pairs)
        .groupBy("thresh")
        .agg(
            F.sum(F.when(F.col("p") >= F.col("thresh"), 1).otherwise(0))
            .cast("long")
            .alias("n_gated"),
            F.avg(
                F.when(F.col("p") >= F.col("thresh"), F.col("y"))
            ).alias("gated_wr"),
        )
        .withColumn("lift6", F.round(F.col("gated_wr") - baseline, 6))
        .withColumn("eligible", F.col("n_gated") >= _DCE_MIN_GATED)
        .localCheckpoint()
    )
    sweep_out = sweep.select(
        F.lit("gate_sweep").alias("section"),
        F.format_string("%.2f", F.col("thresh")).alias("key"),
        F.col("n_gated").alias("n"),
        F.round("gated_wr", 4).alias("m1"),
        F.lit(None).alias("m2"),
        F.round("lift6", 4).alias("m3"),
        F.when(F.col("eligible"), "eligible")
        .otherwise("below_min")
        .alias("verdict"),
    )
    best = (
        sweep.filter(F.col("eligible"))
        .orderBy(F.col("lift6").desc(), F.col("thresh").asc())
        .limit(1)
        .collect()
    )
    if best:
        b = best[0]
        opt_row = (
            "gate_optimal",
            f"{b['thresh']:.2f}",
            b["n_gated"],
            round(b["gated_wr"], 4),
            None,
            round(b["lift6"], 4),
            "optimized",
        )
    else:
        opt_row = (
            "gate_optimal",
            f"{0.55:.2f}",
            0,
            None,
            None,
            None,
            "fallback_uncalibrated",
        )
    opt_out = spark.createDataFrame(
        [opt_row],
        "section string, key string, n long, m1 double, m2 double, "
        "m3 double, verdict string",
    )

    return (
        row_schema(summary)
        .unionByName(row_schema(ece_out))
        .unionByName(row_schema(bins_out))
        .unionByName(row_schema(cf_out))
        .unionByName(row_schema(sweep_out))
        .unionByName(row_schema(opt_out))
    )


# ---------------------------------------------------------------------------
# TS model search — reference scripts/run_ts_model_search.py +
# scripts/summarize_ts_candidates.py
# ---------------------------------------------------------------------------
# The reference's candidate grid (sarimax_only / samossa_only /
# sarimax_samossa, `_build_candidate_configs:82-150`) maps to the engine's
# closed-form forecaster trio over the per-key event series: naive lag-1,
# trailing MA(3), and their ensemble blend (primary model COMBINED per
# `_select_primary_model:152-161`). Rolling-window CV = 5 ntile folds over
# the evaluable rows; score/stability/DM algebra is reproduced exactly.
_TMS_FOLDS = 5
_TMS_BASELINE = "sarimax_only"
_TMS_CURRENT_REGIME = "NEUTRAL"
# engine equivalent of config/regime_similarity_weights.yml (row = current)
_TMS_W_LOW = 0.8
_TMS_W_HIGH = 0.6

_TMS_SQL = f"""
    WITH s0 AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             LN(value / LAG(value, 1) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)) AS lr,
             LAG(value, 1) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS fc_naive,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
               AS fc_ma3
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    s AS (
      SELECT user_id, rn, value, fc_naive, fc_ma3,
             NTILE({_TMS_FOLDS}) OVER (PARTITION BY user_id ORDER BY rn)
               AS fold
      FROM s0 WHERE rn >= 4
    ),
    melted AS (
      SELECT user_id, fold, '{_TMS_BASELINE}' AS candidate,
             value - fc_naive AS err FROM s
      UNION ALL
      SELECT user_id, fold, 'samossa_only', value - fc_ma3 FROM s
      UNION ALL
      SELECT user_id, fold, 'sarimax_samossa',
             value - (fc_naive + fc_ma3) / 2 FROM s
    ),
    foldr AS (
      SELECT user_id, candidate, fold,
             SQRT(AVG(err * err)) AS rmse
      FROM melted GROUP BY user_id, candidate, fold
    ),
    cand AS (
      SELECT user_id, candidate,
             CAST(COUNT(*) AS BIGINT) AS fold_count,
             AVG(rmse) AS rmse_mean,
             CASE WHEN COUNT(*) >= 2 THEN STDDEV_SAMP(rmse) END AS rmse_sd
      FROM foldr GROUP BY user_id, candidate
    ),
    dm0 AS (
      SELECT c.user_id, c.candidate, c.fold,
             b.rmse - c.rmse AS d
      FROM foldr c
      JOIN foldr b ON b.user_id = c.user_id AND b.fold = c.fold
                  AND b.candidate = '{_TMS_BASELINE}'
      WHERE c.candidate <> '{_TMS_BASELINE}'
    ),
    dm1 AS (
      SELECT *, AVG(d) OVER (PARTITION BY user_id, candidate) AS dbar,
             CAST(COUNT(*) OVER (PARTITION BY user_id, candidate)
               AS BIGINT) AS m
      FROM dm0
    ),
    dm2 AS (
      SELECT user_id, candidate, fold, m, dbar, d - dbar AS c0,
             LAG(d - dbar, 1) OVER (PARTITION BY user_id, candidate
                                    ORDER BY fold) AS c1,
             LAG(d - dbar, 2) OVER (PARTITION BY user_id, candidate
                                    ORDER BY fold) AS c2
      FROM dm1
    ),
    dm3 AS (
      SELECT user_id, candidate, ANY_VALUE(m) AS m,
             ANY_VALUE(dbar) AS dbar,
             SUM(c0 * c0) / ANY_VALUE(m) AS g0,
             COALESCE(SUM(c0 * c1), 0.0) / ANY_VALUE(m) AS g1,
             COALESCE(SUM(c0 * c2), 0.0) / ANY_VALUE(m) AS g2
      FROM dm2 GROUP BY user_id, candidate
    ),
    dm AS (
      -- NW lag = floor(sqrt(m)); m=5 folds -> lag 2, weights 1-l/3
      SELECT user_id, candidate, m, dbar,
             CASE WHEN m >= 3 THEN dbar / SQRT(GREATEST(
               CASE WHEN g0 > 0
                    THEN g0 + 2 * (1.0 - 1.0 / (FLOOR(SQRT(m)) + 1)) * g1
                           + 2 * (1.0 - 2.0 / (FLOOR(SQRT(m)) + 1))
                             * CASE WHEN FLOOR(SQRT(m)) >= 2
                                    THEN g2 ELSE 0.0 END
                    ELSE g0 END, 1e-12) / m)
                  ELSE 0.0 END AS t_stat
      FROM dm3
    ),
    dmp AS (
      -- two-sided p from exact Student-t CDF closed forms, df = m-1:
      --   df=2: F = 1/2 + t / (2 sqrt(t^2+2))
      --   df=3: F = 1/2 + (1/pi)( (t/sqrt(3))/(1+t^2/3) + atan(t/sqrt(3)) )
      --   df=4: F = 1/2 + (3/8)(t/sqrt(u))(1 - t^2/(12u)), u = 1 + t^2/4
      SELECT user_id, candidate, t_stat,
             CASE
               WHEN m = 3 THEN 2.0 * (1.0 - (0.5
                 + ABS(t_stat) / (2.0 * SQRT(t_stat * t_stat + 2.0))))
               WHEN m = 4 THEN 2.0 * (1.0 - (0.5 + (1.0 / PI())
                 * ((ABS(t_stat) / SQRT(3.0))
                      / (1.0 + t_stat * t_stat / 3.0)
                    + ATAN(ABS(t_stat) / SQRT(3.0)))))
               WHEN m >= 5 THEN
                 2.0 * (1.0 - (0.5 + 0.375
                   * (ABS(t_stat) / SQRT(1.0 + t_stat * t_stat / 4.0))
                   * (1.0 - t_stat * t_stat
                      / (12.0 * (1.0 + t_stat * t_stat / 4.0)))))
               ELSE 1.0 END AS p_value
      FROM dm
    ),
    vol AS (
      SELECT user_id, STDDEV_SAMP(lr) AS sd FROM s0 GROUP BY user_id
    ),
    cuts AS (
      SELECT QUANTILE_CONT(sd, 1.0/3) AS p33,
             QUANTILE_CONT(sd, 2.0/3) AS p66
      FROM vol
    ),
    regime AS (
      SELECT v.user_id,
             CASE WHEN v.sd < c.p33 THEN 'LOW_VOL'
                  WHEN v.sd > c.p66 THEN 'HIGH_VOL'
                  ELSE 'NEUTRAL' END AS observed_regime
      FROM vol v CROSS JOIN cuts c
    ),
    scored AS (
      SELECT c.user_id, c.candidate,
             CASE WHEN c.candidate = 'sarimax_samossa'
                  THEN 'COMBINED' ELSE c.candidate END AS primary_model,
             c.fold_count, c.rmse_mean, c.rmse_sd,
             CASE WHEN c.fold_count >= 2 AND c.rmse_mean > 0
                       AND c.rmse_sd >= 0
                  THEN GREATEST(0.0, LEAST(1.0,
                       1.0 / (1.0 + c.rmse_sd / c.rmse_mean))) END
               AS stability,
             -c.rmse_mean AS base_score,
             r.observed_regime,
             CASE WHEN r.observed_regime = '{_TMS_CURRENT_REGIME}'
                    THEN 1.0
                  WHEN r.observed_regime = 'LOW_VOL' THEN {_TMS_W_LOW}
                  ELSE {_TMS_W_HIGH} END AS similarity_weight,
             p.t_stat, p.p_value
      FROM cand c
      JOIN regime r ON r.user_id = c.user_id
      LEFT JOIN dmp p ON p.user_id = c.user_id
                     AND p.candidate = c.candidate
    ),
    eff AS (
      SELECT *,
             CASE WHEN stability IS NULL
                  THEN base_score * similarity_weight
                  ELSE base_score * similarity_weight
                       * (0.5 + 0.5 * stability) END AS effective_score
      FROM scored
    )
    SELECT user_id AS ticker, candidate, primary_model, fold_count,
           ROUND(rmse_mean, 6) AS rmse_mean,
           ROUND(stability, 6) AS stability,
           ROUND(base_score, 6) AS base_score,
           observed_regime, similarity_weight,
           ROUND(effective_score, 6) AS effective_score,
           ROUND(t_stat, 6) AS dm_stat,
           ROUND(p_value, 6) AS dm_p_value,
           CASE WHEN p_value < 0.05
                THEN CASE WHEN dm_stat_raw < 0
                          THEN 'model_1' ELSE 'model_2' END END
             AS dm_better_model,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ROUND(effective_score, 6) DESC, candidate)
                = 1 THEN 1 ELSE 0 END AS is_best
    FROM (SELECT *, t_stat AS dm_stat_raw FROM eff) z
"""


@query("ts_model_search_report", oracle=_TMS_SQL)
def ts_model_search_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS model hyper-parameter search evidence — reference
    `scripts/run_ts_model_search.py`: the compact candidate grid
    (`_build_candidate_configs:82-150`; engine candidates are the
    closed-form naive / MA(3) / blend trio, ensemble candidate's
    primary model is COMBINED per `_select_primary_model:152-161`),
    rolling-window CV fold RMSEs, the coefficient-of-variation
    stability score clamp(1/(1+cv)) (`:516-527`), base score =
    -RMSE fallback (`_score_candidate:209-233`), the regime-similarity
    weight from the observed-vs-current regime matrix
    (`_regime_similarity_weight:191-206`; observed regime = the key's
    vol tercile, current = NEUTRAL), the effective score
    base*w*(0.5+0.5*stability) (`:529-533`), and the Diebold-Mariano
    comparison vs the sarimax_only baseline over per-fold RMSEs with
    absolute loss, floor(sqrt(m))-lag Newey-West variance and the
    closed-form Student-t(df=4) two-sided p-value
    (`:535-553`; `etl/statistical_tests.py:34-111` — statistic 0 /
    p 1 below 3 folds, better_model only under p<0.05). is_best marks
    the per-ticker score argmax (`scripts/summarize_ts_candidates.py:
    84-101`).

    Scale: two window passes over the per-key series build all three
    forecasters at once; fold RMSE and candidate aggregation are keyed
    groupBys; the DM join is per (key, fold); the vol-tercile cuts are
    a broadcast scalar pair. Nothing quadratic, nothing driver-side."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s0 = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.log(F.col("value") / F.lag("value", 1).over(w)).alias("lr"),
        F.lag("value", 1).over(w).alias("fc_naive"),
        F.avg("value").over(w.rowsBetween(-3, -1)).alias("fc_ma3"),
    )
    wr = Window.partitionBy("user_id").orderBy("rn")
    s = (
        s0.filter(F.col("rn") >= 4)
        .withColumn("fold", F.ntile(_TMS_FOLDS).over(wr))
        .localCheckpoint()
    )
    melted = (
        s.select(
            "user_id",
            "fold",
            F.lit(_TMS_BASELINE).alias("candidate"),
            (F.col("value") - F.col("fc_naive")).alias("err"),
        )
        .unionByName(
            s.select(
                "user_id",
                "fold",
                F.lit("samossa_only").alias("candidate"),
                (F.col("value") - F.col("fc_ma3")).alias("err"),
            )
        )
        .unionByName(
            s.select(
                "user_id",
                "fold",
                F.lit("sarimax_samossa").alias("candidate"),
                (
                    F.col("value")
                    - (F.col("fc_naive") + F.col("fc_ma3")) / 2
                ).alias("err"),
            )
        )
    )
    foldr = (
        melted.groupBy("user_id", "candidate", "fold")
        .agg(F.sqrt(F.avg(F.col("err") * F.col("err"))).alias("rmse"))
        .localCheckpoint()
    )
    cand = foldr.groupBy("user_id", "candidate").agg(
        F.count(F.lit(1)).cast("long").alias("fold_count"),
        F.avg("rmse").alias("rmse_mean"),
        F.when(
            F.count(F.lit(1)) >= 2, F.stddev_samp("rmse")
        ).alias("rmse_sd"),
    )

    b = foldr.filter(F.col("candidate") == _TMS_BASELINE).select(
        F.col("user_id").alias("b_uid"),
        F.col("fold").alias("b_fold"),
        F.col("rmse").alias("b_rmse"),
    )
    dm0 = (
        foldr.filter(F.col("candidate") != _TMS_BASELINE)
        .join(
            b,
            (F.col("b_uid") == F.col("user_id"))
            & (F.col("b_fold") == F.col("fold")),
        )
        .select(
            "user_id",
            "candidate",
            "fold",
            (F.col("b_rmse") - F.col("rmse")).alias("d"),
        )
    )
    wdc = Window.partitionBy("user_id", "candidate")
    wdf = wdc.orderBy("fold")
    dm2 = (
        dm0.withColumn("dbar", F.avg("d").over(wdc))
        .withColumn("m", F.count(F.lit(1)).over(wdc).cast("long"))
        .withColumn("c0", F.col("d") - F.col("dbar"))
        .withColumn("c1", F.lag("c0", 1).over(wdf))
        .withColumn("c2", F.lag("c0", 2).over(wdf))
    )
    dm3 = dm2.groupBy("user_id", "candidate").agg(
        F.any_value("m").alias("m"),
        F.any_value("dbar").alias("dbar"),
        (F.sum(F.col("c0") * F.col("c0")) / F.any_value("m")).alias("g0"),
        (
            F.coalesce(F.sum(F.col("c0") * F.col("c1")), F.lit(0.0))
            / F.any_value("m")
        ).alias("g1"),
        (
            F.coalesce(F.sum(F.col("c0") * F.col("c2")), F.lit(0.0))
            / F.any_value("m")
        ).alias("g2"),
    )
    lag = F.floor(F.sqrt(F.col("m")))
    nw = F.when(
        F.col("g0") > 0,
        F.col("g0")
        + 2 * (1.0 - 1.0 / (lag + 1)) * F.col("g1")
        + 2
        * (1.0 - 2.0 / (lag + 1))
        * F.when(lag >= 2, F.col("g2")).otherwise(0.0),
    ).otherwise(F.col("g0"))
    t_stat = F.when(
        F.col("m") >= 3,
        F.col("dbar")
        / F.sqrt(F.greatest(nw, F.lit(1e-12)) / F.col("m")),
    ).otherwise(F.lit(0.0))
    ts2 = F.col("t_stat") * F.col("t_stat")
    u = 1.0 + ts2 / 4.0
    cdf4 = 0.5 + 0.375 * (F.abs(F.col("t_stat")) / F.sqrt(u)) * (
        1.0 - ts2 / (12.0 * u)
    )
    cdf2 = 0.5 + F.abs(F.col("t_stat")) / (2.0 * F.sqrt(ts2 + 2.0))
    x3 = F.abs(F.col("t_stat")) / F.sqrt(F.lit(3.0))
    cdf3 = 0.5 + (1.0 / F.lit(3.141592653589793)) * (
        x3 / (1.0 + ts2 / 3.0) + F.atan(x3)
    )
    dmp = dm3.withColumn("t_stat", t_stat).withColumn(
        "p_value",
        F.when(F.col("m") == 3, 2.0 * (1.0 - cdf2))
        .when(F.col("m") == 4, 2.0 * (1.0 - cdf3))
        .when(F.col("m") >= 5, 2.0 * (1.0 - cdf4))
        .otherwise(F.lit(1.0)),
    )

    vol = s0.groupBy("user_id").agg(F.stddev_samp("lr").alias("sd"))
    cuts = vol.agg(
        F.expr("percentile(sd, 1.0D/3)").alias("p33"),
        F.expr("percentile(sd, 2.0D/3)").alias("p66"),
    )
    regime = vol.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        F.when(F.col("sd") < F.col("p33"), "LOW_VOL")
        .when(F.col("sd") > F.col("p66"), "HIGH_VOL")
        .otherwise("NEUTRAL")
        .alias("observed_regime"),
    )

    scored = (
        cand.join(regime, "user_id")
        .join(
            dmp.select("user_id", "candidate", "t_stat", "p_value"),
            ["user_id", "candidate"],
            "left",
        )
        .select(
            "*",
            F.when(F.col("candidate") == "sarimax_samossa", "COMBINED")
            .otherwise(F.col("candidate"))
            .alias("primary_model"),
            F.when(
                (F.col("fold_count") >= 2)
                & (F.col("rmse_mean") > 0)
                & (F.col("rmse_sd") >= 0),
                F.greatest(
                    F.lit(0.0),
                    F.least(
                        F.lit(1.0),
                        1.0
                        / (1.0 + F.col("rmse_sd") / F.col("rmse_mean")),
                    ),
                ),
            ).alias("stability"),
            (-F.col("rmse_mean")).alias("base_score"),
            F.when(
                F.col("observed_regime") == _TMS_CURRENT_REGIME, 1.0
            )
            .when(F.col("observed_regime") == "LOW_VOL", _TMS_W_LOW)
            .otherwise(_TMS_W_HIGH)
            .alias("similarity_weight"),
        )
        .withColumn(
            "effective_score",
            F.when(
                F.col("stability").isNull(),
                F.col("base_score") * F.col("similarity_weight"),
            ).otherwise(
                F.col("base_score")
                * F.col("similarity_weight")
                * (0.5 + 0.5 * F.col("stability"))
            ),
        )
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.round(F.col("effective_score"), 6).desc(), F.col("candidate")
    )
    return scored.select(
        F.col("user_id").alias("ticker"),
        "candidate",
        "primary_model",
        "fold_count",
        r6(F.col("rmse_mean")).alias("rmse_mean"),
        r6(F.col("stability")).alias("stability"),
        r6(F.col("base_score")).alias("base_score"),
        "observed_regime",
        "similarity_weight",
        r6(F.col("effective_score")).alias("effective_score"),
        r6(F.col("t_stat")).alias("dm_stat"),
        r6(F.col("p_value")).alias("dm_p_value"),
        F.when(
            F.col("p_value") < 0.05,
            F.when(F.col("t_stat") < 0, "model_1").otherwise("model_2"),
        ).alias("dm_better_model"),
        F.when(F.row_number().over(wbest) == 1, 1)
        .otherwise(0)
        .alias("is_best"),
    )


# ---------------------------------------------------------------------------
# LLM signal tracking — reference scripts/track_llm_signals.py
# ---------------------------------------------------------------------------
# One tracked signal per event-series key: entry = the key's first price,
# observations = every later event, action from the key hash
# (BUY/SELL/HOLD). The validation ladder and summary reproduce the
# reference exactly; the "backtest_results" channel (alpha, sharpe) is
# computed from the observation series itself: alpha = key mean log-return
# minus the equal-weight universe mean, sharpe = annualized mean/sd.
_LST_MIN_DAYS = 30     # validation_period required (`:240-253`)
_LST_MIN_ANNUAL = 0.10  # annual return hurdle (`:256-273`)

_LST_SQL = """
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             LN(value / LAG(value, 1) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)) AS lr
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    sig AS (
      SELECT user_id,
             CASE WHEN user_id % 3 = 0 THEN 'BUY'
                  WHEN user_id % 3 = 1 THEN 'SELL'
                  ELSE 'HOLD' END AS action,
             MAX(CASE WHEN rn = 1 THEN value END) AS entry_price,
             MAX(CASE WHEN rn = mx THEN value END) AS last_price,
             CAST(ANY_VALUE(mx) - 1 AS BIGINT) AS days_tracked,
             AVG(lr) AS mean_lr,
             STDDEV_SAMP(lr) AS sd_lr
      FROM (SELECT *, MAX(rn) OVER (PARTITION BY user_id) AS mx FROM s) z
      GROUP BY user_id
    ),
    bench AS (SELECT AVG(lr) AS mkt_lr FROM s),
    perf AS (
      SELECT g.user_id, g.action, g.days_tracked,
             CASE WHEN g.action = 'BUY'
                    THEN (g.last_price - g.entry_price) / g.entry_price
                  WHEN g.action = 'SELL'
                    THEN (g.entry_price - g.last_price) / g.entry_price
                  ELSE 0.0 END AS current_return,
             g.mean_lr - b.mkt_lr AS alpha,
             CASE WHEN g.sd_lr > 0
                  THEN g.mean_lr / g.sd_lr * SQRT(252.0) END AS sharpe
      FROM sig g CROSS JOIN bench b
    ),
    checks AS (
      SELECT *,
             CASE WHEN 1.0 + current_return > 0 AND days_tracked > 0
                  THEN POWER(1.0 + current_return, 365.0 / days_tracked)
                       - 1.0 END AS annual_return
      FROM perf
    ),
    val AS (
      SELECT user_id, action, days_tracked,
             ROUND(current_return, 6) AS current_return,
             ROUND(annual_return, 6) AS annual_return,
             ROUND(alpha, 6) AS alpha,
             ROUND(sharpe, 6) AS sharpe,
             CASE WHEN days_tracked >= 30 THEN 1 ELSE 0 END AS chk_period,
             CASE WHEN annual_return > 0.10 THEN 1 ELSE 0 END AS chk_annual,
             CASE WHEN alpha > 0 THEN 1 ELSE 0 END AS chk_alpha,
             CASE WHEN sharpe > 0 THEN 1 ELSE 0 END AS chk_sharpe,
             CASE WHEN days_tracked >= 30 AND annual_return > 0.10
                       AND alpha > 0 AND sharpe > 0
                  THEN 1 ELSE 0 END AS passed
      FROM checks
    ),
    final AS (
      SELECT *, passed AS ready_for_trading,
             CASE WHEN passed = 1 THEN 'validated'
                  ELSE 'failed' END AS validation_status
      FROM val
    )
"""


@query(
    "llm_signal_tracking_validation",
    oracle=f"""
    {_LST_SQL}
    SELECT user_id, action, days_tracked, current_return, annual_return,
           alpha, sharpe, chk_period, chk_annual, chk_alpha, chk_sharpe,
           passed, ready_for_trading, validation_status
    FROM final
    """,
)
@session_frame_cache
def llm_signal_tracking_validation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-signal LLM validation ladder — reference
    `scripts/track_llm_signals.py:211-326` (`validate_signal`): the
    30-observation validation-period floor, the >10% annualized-return
    hurdle ((1+r)^(365/days)-1 from the tracked return, `:262-273`),
    the beats-buy-and-hold alpha>0 and sharpe>0 backtest checks
    (`:275-291`), all-checks `passed` fold and the ready_for_trading
    conjunction with the period check (`:293-307`); returns use the
    action-aware sign (BUY long / SELL short / HOLD zero, `:196-203`).
    A non-positive compounding base yields a NULL annual return and a
    failed check (numpy would produce NaN, which also fails the
    comparison).

    Scale: one window pass per key plus one keyed groupBy; the
    benchmark mean is a broadcast scalar."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.log(F.col("value") / F.lag("value", 1).over(w)).alias("lr"),
    ).withColumn("mx", F.max("rn").over(Window.partitionBy("user_id")))
    sig = s.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias(
            "entry_price"
        ),
        F.max(F.when(F.col("rn") == F.col("mx"), F.col("value"))).alias(
            "last_price"
        ),
        (F.any_value("mx") - 1).cast("long").alias("days_tracked"),
        F.avg("lr").alias("mean_lr"),
        F.stddev_samp("lr").alias("sd_lr"),
    )
    bench = s.agg(F.avg("lr").alias("mkt_lr"))
    action = (
        F.when(F.col("user_id") % 3 == 0, "BUY")
        .when(F.col("user_id") % 3 == 1, "SELL")
        .otherwise("HOLD")
    )
    cur = (
        F.when(
            action == "BUY",
            (F.col("last_price") - F.col("entry_price"))
            / F.col("entry_price"),
        )
        .when(
            action == "SELL",
            (F.col("entry_price") - F.col("last_price"))
            / F.col("entry_price"),
        )
        .otherwise(F.lit(0.0))
    )
    perf = sig.crossJoin(F.broadcast(bench)).select(
        "user_id",
        action.alias("action"),
        "days_tracked",
        cur.alias("current_return"),
        (F.col("mean_lr") - F.col("mkt_lr")).alias("alpha"),
        F.when(
            F.col("sd_lr") > 0,
            F.col("mean_lr") / F.col("sd_lr") * F.sqrt(F.lit(252.0)),
        ).alias("sharpe"),
    )
    checks = perf.withColumn(
        "annual_return",
        F.when(
            (1.0 + F.col("current_return") > 0)
            & (F.col("days_tracked") > 0),
            F.pow(
                1.0 + F.col("current_return"),
                365.0 / F.col("days_tracked"),
            )
            - 1.0,
        ),
    )
    chk_period = F.when(
        F.col("days_tracked") >= _LST_MIN_DAYS, 1
    ).otherwise(0)
    chk_annual = F.when(
        F.col("annual_return") > _LST_MIN_ANNUAL, 1
    ).otherwise(0)
    chk_alpha = F.when(F.col("alpha") > 0, 1).otherwise(0)
    chk_sharpe = F.when(F.col("sharpe") > 0, 1).otherwise(0)
    passed = F.when(
        (F.col("days_tracked") >= _LST_MIN_DAYS)
        & (F.col("annual_return") > _LST_MIN_ANNUAL)
        & (F.col("alpha") > 0)
        & (F.col("sharpe") > 0),
        1,
    ).otherwise(0)
    return checks.select(
        "user_id",
        "action",
        "days_tracked",
        r6(F.col("current_return")).alias("current_return"),
        r6(F.col("annual_return")).alias("annual_return"),
        r6(F.col("alpha")).alias("alpha"),
        r6(F.col("sharpe")).alias("sharpe"),
        chk_period.alias("chk_period"),
        chk_annual.alias("chk_annual"),
        chk_alpha.alias("chk_alpha"),
        chk_sharpe.alias("chk_sharpe"),
        passed.alias("passed"),
        passed.alias("ready_for_trading"),
        F.when(passed == 1, "validated")
        .otherwise("failed")
        .alias("validation_status"),
    )


@query(
    "llm_signal_tracking_summary",
    oracle=f"""
    {_LST_SQL},
    tick AS (
      SELECT 'by_ticker' AS section,
             'U' || CAST(user_id % 25 AS VARCHAR) AS key,
             CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(passed) AS BIGINT) AS validated,
             ROUND(CASE WHEN SUM(passed) > 0
                   THEN SUM(CASE WHEN passed = 1
                            THEN current_return ELSE 0 END)
                        / SUM(passed) END, 6) AS avg_return
      FROM final GROUP BY user_id % 25
    ),
    act AS (
      SELECT 'by_action', action, CAST(COUNT(*) AS BIGINT),
             CAST(SUM(passed) AS BIGINT), CAST(NULL AS DOUBLE)
      FROM final GROUP BY action
    ),
    top AS (
      SELECT 'overall', 'fleet', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(passed) AS BIGINT),
             ROUND(CAST(SUM(passed) AS DOUBLE) / COUNT(*), 6)
      FROM final
    ),
    rdy AS (
      SELECT 'overall', 'ready_for_trading',
             CAST(SUM(ready_for_trading) AS BIGINT),
             CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
      FROM final
    )
    SELECT * FROM tick UNION ALL SELECT * FROM act
    UNION ALL SELECT * FROM top UNION ALL SELECT * FROM rdy
    """,
)
def llm_signal_tracking_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet performance summary over the tracked LLM signals —
    reference `scripts/track_llm_signals.py:328-367`
    (`get_performance_summary`): per-ticker total/validated censuses
    with mean tracked return over validated signals (`:342-363`),
    per-action censuses, the fleet validation rate (`:339-340`) and
    the ready-for-trading count. Ticker bucket = key % 25 (the
    tracking DB groups per ticker; the engine's signal grain is the
    event-series key).

    Scale: three bounded groupBys over the validation frame."""
    # lazy: the fan-out materialization folds into the timed action
    # instead of running as a build-time job (B4.3 pattern)
    final = llm_signal_tracking_validation(spark, sf_dir).localCheckpoint(
        eager=False
    )
    tick = final.groupBy((F.col("user_id") % 25).alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum("passed").cast("long").alias("validated"),
        F.round(
            F.when(
                F.sum("passed") > 0,
                F.sum(
                    F.when(
                        F.col("passed") == 1, F.col("current_return")
                    ).otherwise(0.0)
                )
                / F.sum("passed"),
            ),
            6,
        ).alias("avg_return"),
    ).select(
        F.lit("by_ticker").alias("section"),
        F.concat(F.lit("U"), F.col("b").cast("string")).alias("key"),
        "total",
        "validated",
        "avg_return",
    )
    act = final.groupBy("action").agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum("passed").cast("long").alias("validated"),
    ).select(
        F.lit("by_action").alias("section"),
        F.col("action").alias("key"),
        "total",
        "validated",
        F.lit(None).cast("double").alias("avg_return"),
    )
    top = final.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum("passed").cast("long").alias("validated"),
        F.round(
            F.sum("passed").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_return"),
    ).select(
        F.lit("overall").alias("section"),
        F.lit("fleet").alias("key"),
        "total",
        "validated",
        "avg_return",
    )
    rdy = final.agg(
        F.sum("ready_for_trading").cast("long").alias("total")
    ).select(
        F.lit("overall").alias("section"),
        F.lit("ready_for_trading").alias("key"),
        "total",
        F.lit(None).cast("long").alias("validated"),
        F.lit(None).cast("double").alias("avg_return"),
    )
    return tick.unionByName(act).unionByName(top).unionByName(rdy)


# ---------------------------------------------------------------------------
# Zombie open-leg retirement — reference scripts/retire_zombie_opens.py
# ---------------------------------------------------------------------------
# Unmatched open legs = open legs never consumed by a close linkage
# (used_qty = 0 in the ledger mapping above; reference `_get_open_lots:26-43`
# selects opens not referenced as entry_trade_id). The authoritative live
# portfolio state (reference portfolio_state table, `:45-69`) maps to the
# per-ticker count of 'P'-status orders — the engine's pending-position
# snapshot. Keep the NEWEST n_keep non-synthetic lots per ticker (highest
# leg ids), retire the rest; synthetic lots are flagged separately (`:100-126`).
_ZOR_SQL = f"""
    {_UCR_SQL.split("    uncl AS")[0].rstrip().rstrip(',')},
    zombies AS (
      SELECT o.* FROM orphans o WHERE o.used_qty = 0.0
    ),
    live AS (
      SELECT 'T' || CAST(o_custkey % 25 AS VARCHAR) AS ticker,
             CAST(COUNT(*) AS BIGINT) AS n_keep
      FROM orders WHERE o_orderstatus = 'P'
      GROUP BY o_custkey % 25
    ),
    ranked AS (
      SELECT z.ticker, z.leg_id, CAST(z.trade_date AS VARCHAR) AS trade_date,
             z.is_synthetic,
             COALESCE(l.n_keep, 0) AS n_keep,
             CASE WHEN NOT z.is_synthetic
                  THEN ROW_NUMBER() OVER (
                    PARTITION BY z.ticker, z.is_synthetic
                    ORDER BY z.leg_id DESC) END AS recency_rank
      FROM zombies z LEFT JOIN live l ON l.ticker = z.ticker
    )
    SELECT ticker, leg_id, trade_date,
           CASE WHEN is_synthetic THEN 1 ELSE 0 END AS is_synthetic,
           n_keep, recency_rank,
           CASE WHEN is_synthetic THEN 'ALREADY_SYNTHETIC'
                WHEN recency_rank <= n_keep THEN 'KEEP'
                ELSE 'RETIRE' END AS decision
    FROM ranked
"""


@query("zombie_open_retirement", oracle=_ZOR_SQL)
def zombie_open_retirement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zombie open-leg retirement plan — reference
    `scripts/retire_zombie_opens.py:26-130`: unmatched open legs per
    ticker (never consumed by a close linkage, `_get_open_lots:26-43`)
    reconciled against the authoritative live position snapshot
    (`_load_live_portfolio_state:45-69`; engine snapshot = per-ticker
    'P'-status order count): keep the NEWEST n_keep non-synthetic lots
    (highest ids carry the freshest audit coverage, `:100-112`), retire
    the older surplus, and flag synthetic lots separately (`:113-115`).

    Scale: one keyed window (per-ticker recency rank over the zombie
    subset) + an equi-join on ticker to the bounded live snapshot."""
    from pyspark.sql import Window

    orphans, _closes = _ucr_frames(spark, sf_dir)
    zombies = orphans.filter(F.col("used_qty") == 0.0)
    o = load_table(spark, sf_dir, "orders")
    live = (
        o.filter(F.col("o_orderstatus") == "P")
        .groupBy((F.col("o_custkey") % 25).alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_keep"))
        .select(
            F.concat(F.lit("T"), F.col("b").cast("string")).alias("lt"),
            "n_keep",
        )
    )
    wrk = Window.partitionBy("ticker", "is_synthetic").orderBy(
        F.col("leg_id").desc()
    )
    ranked = (
        zombies.join(live, F.col("lt") == F.col("ticker"), "left")
        .withColumn(
            "recency_rank",
            F.when(~F.col("is_synthetic"), F.row_number().over(wrk)),
        )
        .withColumn("nk", F.coalesce(F.col("n_keep"), F.lit(0)))
    )
    return ranked.select(
        "ticker",
        "leg_id",
        F.col("trade_date").cast("string").alias("trade_date"),
        F.when(F.col("is_synthetic"), 1).otherwise(0).alias("is_synthetic"),
        F.col("nk").alias("n_keep"),
        "recency_rank",
        F.when(F.col("is_synthetic"), "ALREADY_SYNTHETIC")
        .when(F.col("recency_rank") <= F.col("nk"), "KEEP")
        .otherwise("RETIRE")
        .alias("decision"),
    )


# ---------------------------------------------------------------------------
# Orphaned-position cleanup — reference scripts/cleanup_orphaned_positions.py
# ---------------------------------------------------------------------------
# Each orphaned open (engine anchor: every 23rd bar of a key's series, past
# the 14-bar ATR warm-up) is closed by replaying the proof-mode ATR-adaptive
# exit on the key's own price history (`_replay_atr_exit:60-139`): ATR(14)
# from the bar range proxy |Δvalue|, the volatility ladder (atr_pct>3% →
# horizon 3 / 1.0σ stop / 1.5σ target; >1.5% → 5 / 1.25 / 1.75; else
# 7 / 1.25 / 1.75), then a bar-by-bar scan of the next horizon+4 bars —
# STOP_LOSS before TAKE_PROFIT before TIME_EXIT at each bar — with the
# end-of-history TIME_EXIT fallback.
_OPC_SQL = """
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    tr AS (
      SELECT *, ABS(value - LAG(value) OVER (PARTITION BY user_id
                                             ORDER BY rn)) AS bar_range
      FROM s
    ),
    atr AS (
      SELECT *, AVG(bar_range) OVER (PARTITION BY user_id ORDER BY rn
                 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS atr14,
             MAX(rn) OVER (PARTITION BY user_id) AS mx
      FROM tr
    ),
    anchors AS (
      SELECT user_id, rn AS entry_rn, value AS entry_price,
             CAST(1 + user_id % 9 AS DOUBLE) AS shares, atr14, mx,
             atr14 / value AS atr_pct,
             CASE WHEN atr14 / value > 0.03 THEN 3
                  WHEN atr14 / value > 0.015 THEN 5
                  ELSE 7 END AS horizon,
             CASE WHEN atr14 / value > 0.03 THEN 1.0 ELSE 1.25 END
               AS stop_mult,
             CASE WHEN atr14 / value > 0.03 THEN 1.5 ELSE 1.75 END
               AS target_mult
      FROM atr
      WHERE rn % 23 = 0 AND rn >= 15
    ),
    scan AS (
      SELECT a.user_id, a.entry_rn, a.entry_price, a.shares, a.horizon,
             o.off, b.value AS px, b.rn AS bar_rn,
             CASE
               WHEN b.value <= a.entry_price - a.stop_mult * a.atr14
                 THEN 0  -- STOP_LOSS
               WHEN b.value >= a.entry_price + a.target_mult * a.atr14
                 THEN 1  -- TAKE_PROFIT
               WHEN o.off >= a.horizon THEN 2  -- TIME_EXIT
             END AS pri
      FROM anchors a
      CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(1, 11)) AS off) o
      JOIN s b ON b.user_id = a.user_id AND b.rn = a.entry_rn + o.off
      WHERE o.off <= a.horizon + 4
    ),
    hit AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, entry_rn
               ORDER BY off * 4 + pri) AS hr
      FROM scan WHERE pri IS NOT NULL
    ),
    lastbar AS (
      SELECT user_id, rn, value FROM atr WHERE rn = mx
    ),
    resolved AS (
      SELECT a.user_id, a.entry_rn,
             ROUND(a.entry_price, 6) AS entry_price, a.shares,
             ROUND(a.atr14, 6) AS atr14, a.horizon, a.stop_mult,
             a.target_mult,
             COALESCE(h.bar_rn, lb.rn) AS exit_rn,
             CASE WHEN h.pri = 0 THEN 'STOP_LOSS'
                  WHEN h.pri = 1 THEN 'TAKE_PROFIT'
                  ELSE 'TIME_EXIT' END AS exit_reason,
             CAST(COALESCE(h.off, lb.rn - a.entry_rn) AS BIGINT)
               AS bars_held,
             COALESCE(h.px, lb.value) AS exit_price
      FROM anchors a
      LEFT JOIN hit h ON h.user_id = a.user_id
                     AND h.entry_rn = a.entry_rn AND h.hr = 1
      JOIN lastbar lb ON lb.user_id = a.user_id
    )
    SELECT user_id, entry_rn, entry_price, shares, atr14, horizon,
           stop_mult, target_mult, exit_rn, exit_reason, bars_held,
           ROUND(exit_price, 6) AS exit_price,
           ROUND((exit_price - entry_price) * shares, 6) AS pnl,
           ROUND((exit_price - entry_price) / entry_price, 6) AS pnl_pct
    FROM resolved
"""


@query("orphaned_position_cleanup", oracle=_OPC_SQL)
def orphaned_position_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphaned-position cleanup via the proof-mode ATR-exit replay —
    reference `scripts/cleanup_orphaned_positions.py:60-139`
    (`_replay_atr_exit`): ATR(14) at the entry bar, the volatility
    ladder choosing holding horizon and stop/target multipliers, the
    bar-by-bar scan over the next horizon+4 bars with the STOP_LOSS →
    TAKE_PROFIT → TIME_EXIT precedence per bar, and the end-of-history
    TIME_EXIT fallback with bars_held = len - entry - 1 (`:125-129`).
    Engine anchors are every 23rd bar past the ATR warm-up; the bar
    range proxy is |Δvalue| (events carry one price channel).

    Scale: the scan is a bounded explode (≤11 offsets per anchor)
    joined as an equi-join on (key, bar index) — no range scan, no
    per-anchor driver loop; candidate choice is one keyed window."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
    ).localCheckpoint()
    wr = Window.partitionBy("user_id").orderBy("rn")
    atr = (
        s.withColumn(
            "bar_range", F.abs(F.col("value") - F.lag("value").over(wr))
        )
        .withColumn(
            "atr14",
            F.avg("bar_range").over(wr.rowsBetween(-13, 0)),
        )
        .withColumn("mx", F.max("rn").over(Window.partitionBy("user_id")))
    )
    atr_pct = F.col("atr14") / F.col("value")
    anchors = (
        atr.filter((F.col("rn") % 23 == 0) & (F.col("rn") >= 15))
        .select(
            "user_id",
            F.col("rn").alias("entry_rn"),
            F.col("value").alias("entry_price"),
            (1 + F.col("user_id") % 9).cast("double").alias("shares"),
            "atr14",
            "mx",
            F.when(atr_pct > 0.03, 3)
            .when(atr_pct > 0.015, 5)
            .otherwise(7)
            .alias("horizon"),
            F.when(atr_pct > 0.03, 1.0).otherwise(1.25).alias("stop_mult"),
            F.when(atr_pct > 0.03, 1.5).otherwise(1.75).alias(
                "target_mult"
            ),
        )
        .localCheckpoint()
    )
    scan = (
        anchors.withColumn(
            "off", F.explode(F.expr("sequence(1, horizon + 4)"))
        )
        .alias("a")
        .join(
            s.alias("b"),
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.rn") == F.col("a.entry_rn") + F.col("off")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            "entry_rn",
            "off",
            F.col("b.value").alias("px"),
            F.col("b.rn").alias("bar_rn"),
            F.when(
                F.col("b.value")
                <= F.col("entry_price")
                - F.col("stop_mult") * F.col("atr14"),
                0,
            )
            .when(
                F.col("b.value")
                >= F.col("entry_price")
                + F.col("target_mult") * F.col("atr14"),
                1,
            )
            .when(F.col("off") >= F.col("horizon"), 2)
            .alias("pri"),
        )
    )
    whit = Window.partitionBy("user_id", "entry_rn").orderBy(
        F.col("off") * 4 + F.col("pri")
    )
    hit = (
        scan.filter(F.col("pri").isNotNull())
        .withColumn("hr", F.row_number().over(whit))
        .filter(F.col("hr") == 1)
        .select(
            F.col("user_id").alias("h_uid"),
            F.col("entry_rn").alias("h_rn"),
            F.col("off").alias("h_off"),
            F.col("px").alias("h_px"),
            F.col("bar_rn").alias("h_bar"),
            F.col("pri").alias("h_pri"),
        )
    )
    lastbar = atr.filter(F.col("rn") == F.col("mx")).select(
        F.col("user_id").alias("l_uid"),
        F.col("rn").alias("l_rn"),
        F.col("value").alias("l_val"),
    )
    resolved = (
        anchors.join(
            hit,
            (F.col("h_uid") == F.col("user_id"))
            & (F.col("h_rn") == F.col("entry_rn")),
            "left",
        )
        .join(lastbar, F.col("l_uid") == F.col("user_id"))
        .select(
            "user_id",
            "entry_rn",
            r6(F.col("entry_price")).alias("entry_price"),
            "shares",
            r6(F.col("atr14")).alias("atr14"),
            "horizon",
            "stop_mult",
            "target_mult",
            F.coalesce(F.col("h_bar"), F.col("l_rn")).alias("exit_rn"),
            F.when(F.col("h_pri") == 0, "STOP_LOSS")
            .when(F.col("h_pri") == 1, "TAKE_PROFIT")
            .otherwise("TIME_EXIT")
            .alias("exit_reason"),
            F.coalesce(
                F.col("h_off"), F.col("l_rn") - F.col("entry_rn")
            )
            .cast("long")
            .alias("bars_held"),
            F.coalesce(F.col("h_px"), F.col("l_val")).alias("exit_raw"),
        )
        .withColumn("exit_price", r6(F.col("exit_raw")))
    )
    ent_raw = F.col("entry_price")  # already rounded on both sides
    return resolved.select(
        "user_id",
        "entry_rn",
        "entry_price",
        "shares",
        "atr14",
        "horizon",
        "stop_mult",
        "target_mult",
        "exit_rn",
        "exit_reason",
        "bars_held",
        "exit_price",
        r6((F.col("exit_raw") - ent_raw) * F.col("shares")).alias("pnl"),
        r6((F.col("exit_raw") - ent_raw) / ent_raw).alias("pnl_pct"),
    )


# ---------------------------------------------------------------------------
# Quant-validation health gate — reference scripts/check_quant_validation_health.py
# ---------------------------------------------------------------------------
# Thresholds from config/forecaster_monitoring.yml: hard RED ceilings
# max_fail_fraction=0.85 / max_negative_expected_profit_fraction=0.50,
# YELLOW warning bands 0.80 / 0.40. Entries reuse the trades pack's
# validation grain — one entry per (ticker, close-day) over that day's
# closed trades; expected_profit = day PnL net of the 50.0/trade cost drag;
# proof-mode entries (close-day-of-month % 5 = 0) are excluded from the
# gate exactly like the script's canonical ``--exclude-mode proof`` usage;
# the scope window drops entries before the last trailing year.
_QVH_RED_FAIL = 0.85
_QVH_RED_NEG = 0.50
_QVH_WARN_FAIL = 0.80
_QVH_WARN_NEG = 0.40
_QVH_COST_DRAG = 50.0
_QVH_SINCE = "1997-08-01"

_QVH_SQL = f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             CAST(MAX(l.l_shipdate) AS DATE) AS close_d
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
             c.close_d, c.cnet - o2.onet AS pnl
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    entries AS (
      SELECT ticker, close_d,
             CAST(COUNT(*) AS BIGINT) AS n_trades,
             SUM(CAST(pnl AS DECIMAL(28,6))) AS pnl_sum
      FROM trades GROUP BY ticker, close_d
    ),
    scoped AS (
      SELECT *,
             CASE WHEN CAST(pnl_sum AS DOUBLE) > 0
                  THEN 'PASS' ELSE 'FAIL' END AS status,
             CAST(pnl_sum AS DOUBLE) - {_QVH_COST_DRAG} * n_trades
               AS expected_profit,
             CASE WHEN DAY(close_d) % 5 = 0 THEN 'proof'
                  ELSE 'live' END AS execution_mode,
             (close_d < DATE '{_QVH_SINCE}') AS out_of_scope
      FROM entries
    ),
    census AS (
      SELECT
        CAST(SUM(CASE WHEN NOT out_of_scope
                       AND execution_mode <> 'proof'
                      THEN 1 ELSE 0 END) AS BIGINT) AS total,
        CAST(SUM(CASE WHEN NOT out_of_scope
                       AND execution_mode <> 'proof'
                       AND status = 'PASS'
                      THEN 1 ELSE 0 END) AS BIGINT) AS pass_count,
        CAST(SUM(CASE WHEN NOT out_of_scope
                       AND execution_mode <> 'proof'
                       AND status = 'FAIL'
                      THEN 1 ELSE 0 END) AS BIGINT) AS fail_count,
        CAST(SUM(CASE WHEN NOT out_of_scope
                       AND execution_mode <> 'proof'
                       AND expected_profit < 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS neg_exp_profit,
        CAST(SUM(CASE WHEN NOT out_of_scope
                       AND execution_mode = 'proof'
                      THEN 1 ELSE 0 END) AS BIGINT) AS skipped_mode,
        CAST(SUM(CASE WHEN out_of_scope THEN 1 ELSE 0 END) AS BIGINT)
          AS skipped_scope
      FROM scoped
    )
    SELECT total, pass_count, fail_count, neg_exp_profit, skipped_mode,
           skipped_scope,
           ROUND(CASE WHEN total > 0
                 THEN CAST(fail_count AS DOUBLE) / total
                 ELSE 0.0 END, 6) AS fail_fraction,
           ROUND(CASE WHEN total > 0
                 THEN CAST(neg_exp_profit AS DOUBLE) / total
                 ELSE 0.0 END, 6) AS neg_fraction,
           CASE
             WHEN total = 0 THEN 'GREEN'
             WHEN CAST(fail_count AS DOUBLE) / total > {_QVH_RED_FAIL}
               OR CAST(neg_exp_profit AS DOUBLE) / total > {_QVH_RED_NEG}
               THEN 'RED'
             WHEN CAST(fail_count AS DOUBLE) / total > {_QVH_WARN_FAIL}
               OR CAST(neg_exp_profit AS DOUBLE) / total > {_QVH_WARN_NEG}
               THEN 'YELLOW'
             ELSE 'GREEN'
           END AS global_state
    FROM census
"""


@query("quant_validation_health_gate", oracle=_QVH_SQL)
def quant_validation_health_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CI quant-validation health gate — reference
    `scripts/check_quant_validation_health.py:129-223`
    (`_summarize_global`) + `config/forecaster_monitoring.yml`: scoped
    PASS/FAIL census (since-window scope skips, proof-mode exclusion
    from the gate — the script's canonical ``--exclude-mode proof``),
    the FAIL fraction vs the 0.80 YELLOW band and 0.85 hard RED
    ceiling, the negative-expected-profit fraction vs 0.40/0.50, and
    the GREEN/YELLOW/RED fold (RED exits non-zero in CI, `:16`).

    Scale: one (ticker, day) groupBy over the closed-trade frame, one
    global fold; money sums DECIMAL."""
    trades = (
        _closed_trades(spark, sf_dir)
        .select(
            F.concat(
                F.lit("T"), (F.col("o_custkey") % 25).cast("string")
            ).alias("ticker"),
            "close_d",
            (F.col("cnet") - F.col("onet")).alias("pnl"),
        )
    )
    entries = trades.groupBy("ticker", "close_d").agg(
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.sum(F.col("pnl").cast("decimal(28,6)")).alias("pnl_sum"),
    )
    scoped = entries.select(
        "*",
        F.when(F.col("pnl_sum").cast("double") > 0, "PASS")
        .otherwise("FAIL")
        .alias("status"),
        (
            F.col("pnl_sum").cast("double")
            - _QVH_COST_DRAG * F.col("n_trades")
        ).alias("expected_profit"),
        F.when(F.dayofmonth("close_d") % 5 == 0, "proof")
        .otherwise("live")
        .alias("execution_mode"),
        (F.col("close_d") < F.lit(_QVH_SINCE).cast("date")).alias(
            "out_of_scope"
        ),
    )
    in_gate = ~F.col("out_of_scope") & (F.col("execution_mode") != "proof")
    cnt = lambda cond: F.coalesce(  # noqa: E731
        F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    census = scoped.agg(
        cnt(in_gate).alias("total"),
        cnt(in_gate & (F.col("status") == "PASS")).alias("pass_count"),
        cnt(in_gate & (F.col("status") == "FAIL")).alias("fail_count"),
        cnt(in_gate & (F.col("expected_profit") < 0)).alias(
            "neg_exp_profit"
        ),
        cnt(
            ~F.col("out_of_scope") & (F.col("execution_mode") == "proof")
        ).alias("skipped_mode"),
        cnt(F.col("out_of_scope")).alias("skipped_scope"),
    )
    ff = F.when(
        F.col("total") > 0,
        F.col("fail_count").cast("double") / F.col("total"),
    ).otherwise(F.lit(0.0))
    nf = F.when(
        F.col("total") > 0,
        F.col("neg_exp_profit").cast("double") / F.col("total"),
    ).otherwise(F.lit(0.0))
    return census.select(
        "total",
        "pass_count",
        "fail_count",
        "neg_exp_profit",
        "skipped_mode",
        "skipped_scope",
        r6(ff).alias("fail_fraction"),
        r6(nf).alias("neg_fraction"),
        F.when(F.col("total") == 0, "GREEN")
        .when((ff > _QVH_RED_FAIL) | (nf > _QVH_RED_NEG), "RED")
        .when((ff > _QVH_WARN_FAIL) | (nf > _QVH_WARN_NEG), "YELLOW")
        .otherwise("GREEN")
        .alias("global_state"),
    )


# ---------------------------------------------------------------------------
# Regime/exploration state — reference scripts/update_regime_state.py
# ---------------------------------------------------------------------------
_RSU_LOOKBACK = 20     # lookback_trades (`:50`)
_RSU_MIN_EXPLOIT = 20  # min_trades_for_exploitation (`:51`)
_RSU_S_HIGH = 0.5
_RSU_S_LOW = -0.2
_RSU_EPS = 1e-8

_RSU_SQL = f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             CAST(MAX(l.l_shipdate) AS DATE) AS close_d
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
             c.l_orderkey AS orderkey, c.close_d,
             c.cnet - o2.onet AS pnl
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    recent AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ticker
               ORDER BY close_d DESC, orderkey DESC) AS rk
      FROM trades
    ),
    bucket AS (
      SELECT ticker, CAST(COUNT(*) AS BIGINT) AS n_trades,
             AVG(pnl) AS mean_pnl,
             CASE WHEN COUNT(*) > 1 THEN STDDEV_POP(pnl)
                  ELSE 0.0 END AS std_pnl
      FROM recent WHERE rk <= {_RSU_LOOKBACK}
      GROUP BY ticker
    )
    SELECT ticker, n_trades,
           CASE WHEN n_trades >= {_RSU_MIN_EXPLOIT}
                THEN ROUND(mean_pnl / (std_pnl + {_RSU_EPS}), 6) END
             AS sharpe_n,
           CASE WHEN n_trades < {_RSU_MIN_EXPLOIT} THEN 'exploration'
                ELSE 'exploitation' END AS mode,
           CASE WHEN n_trades < {_RSU_MIN_EXPLOIT} THEN 'neutral'
                WHEN mean_pnl / (std_pnl + {_RSU_EPS}) > {_RSU_S_HIGH}
                  THEN 'green'
                WHEN mean_pnl / (std_pnl + {_RSU_EPS}) < {_RSU_S_LOW}
                  THEN 'red'
                ELSE 'neutral' END AS state
    FROM bucket
"""


@query("regime_state_update", oracle=_RSU_SQL)
def regime_state_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-ticker regime/exploration state from realised PnL —
    reference `scripts/update_regime_state.py:48-113`
    (`_compute_regime_state`): the newest 20 closed trades per ticker,
    Sharpe-like mean/(population-std + 1e-8), exploration mode below
    the 20-trade exploitation floor (sharpe withheld), and the
    green / red / neutral state at the +0.5 / -0.2 bands.

    Scale: one per-ticker recency window over the closed-trade frame,
    one keyed groupBy."""
    from pyspark.sql import Window

    trades = (
        _closed_trades(spark, sf_dir)
        .select(
            F.concat(
                F.lit("T"), (F.col("o_custkey") % 25).cast("string")
            ).alias("ticker"),
            F.col("c.l_orderkey").alias("orderkey"),
            "close_d",
            (F.col("cnet") - F.col("onet")).alias("pnl"),
        )
    )
    wrec = Window.partitionBy("ticker").orderBy(
        F.col("close_d").desc(), F.col("orderkey").desc()
    )
    bucket = (
        trades.withColumn("rk", F.row_number().over(wrec))
        .filter(F.col("rk") <= _RSU_LOOKBACK)
        .groupBy("ticker")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.avg("pnl").alias("mean_pnl"),
            F.when(
                F.count(F.lit(1)) > 1, F.stddev_pop("pnl")
            )
            .otherwise(F.lit(0.0))
            .alias("std_pnl"),
        )
    )
    sharpe = F.col("mean_pnl") / (F.col("std_pnl") + _RSU_EPS)
    return bucket.select(
        "ticker",
        "n_trades",
        F.when(F.col("n_trades") >= _RSU_MIN_EXPLOIT, r6(sharpe)).alias(
            "sharpe_n"
        ),
        F.when(F.col("n_trades") < _RSU_MIN_EXPLOIT, "exploration")
        .otherwise("exploitation")
        .alias("mode"),
        F.when(F.col("n_trades") < _RSU_MIN_EXPLOIT, "neutral")
        .when(sharpe > _RSU_S_HIGH, "green")
        .when(sharpe < _RSU_S_LOW, "red")
        .otherwise("neutral")
        .alias("state"),
    )


# ---------------------------------------------------------------------------
# Classifier readiness — reference scripts/check_classifier_readiness.py
# ---------------------------------------------------------------------------
# Over the directional training dataset (queries_pipeline's frame): label
# sources map outcome_linked <- pnl_fallback (labels tied to realized
# outcomes) and parquet_scan <- price_forward (forward-price scan labels).
# Key-feature fill floor 0.70, gate floor 500 outcome-linked examples,
# APPROACHING band at 250, milestones 100/250/500, accumulation rate =
# outcome-linked count over its timestamp span (floor one day, >=2 stamps).
_CRD_MIN_FILL = 0.70
_CRD_GATE_N = 500
_CRD_APPROACH_N = 250

_CRD_SQL = f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value, event_type,
             CAST(props->>'k' AS INTEGER) AS k,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             LN(value / LAG(value, 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS lr,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
               AS f_ma5,
             STDDEV_SAMP(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                              ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
               AS f_vol10
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    sig AS (
      SELECT * FROM s WHERE event_type = 'click' AND k IS NOT NULL
    ),
    lab AS (
      SELECT g.user_id, g.ts, g.event_id, g.lr, g.f_ma5, g.f_vol10, g.k,
             fwd.value AS forward_close
      FROM sig g
      LEFT JOIN s fwd ON fwd.user_id = g.user_id
                     AND fwd.rn = g.rn + (g.k % 5) + 1
    ),
    ds AS (
      SELECT *,
             CASE WHEN forward_close IS NOT NULL THEN 'parquet_scan'
                  WHEN user_id % 10 <> 0 AND lr IS NOT NULL
                  THEN 'outcome_linked' END AS label_source
      FROM lab
      WHERE (forward_close IS NOT NULL)
         OR (user_id % 10 <> 0 AND lr IS NOT NULL)
    ),
    rate AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_ol,
             CASE WHEN COUNT(*) >= 2
                  THEN COUNT(*) / GREATEST(1.0,
                       (EPOCH(MAX(ts)) - EPOCH(MIN(ts))) / 86400.0)
                  ELSE 0.0 END AS daily_rate
      FROM ds WHERE label_source = 'outcome_linked'
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN label_source = 'parquet_scan'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_parquet_scan,
             AVG(CASE WHEN f_ma5 IS NULL THEN 0.0 ELSE 1.0 END)
               AS fill_f_ma5,
             AVG(CASE WHEN f_vol10 IS NULL THEN 0.0 ELSE 1.0 END)
               AS fill_f_vol10,
             AVG(CASE WHEN k IS NULL THEN 0.0 ELSE 1.0 END) AS fill_f_k
      FROM ds
    ),
    j AS (
      SELECT a.*, r.n_ol AS n_outcome_linked, r.daily_rate,
             (CASE WHEN r.n_ol < {_CRD_GATE_N} THEN 1 ELSE 0 END
              + CASE WHEN a.fill_f_ma5 < {_CRD_MIN_FILL}
                     THEN 1 ELSE 0 END
              + CASE WHEN a.fill_f_vol10 < {_CRD_MIN_FILL}
                     THEN 1 ELSE 0 END
              + CASE WHEN a.fill_f_k < {_CRD_MIN_FILL}
                     THEN 1 ELSE 0 END) AS n_blockers
      FROM agg a CROSS JOIN rate r
    )
    SELECT n_total, n_outcome_linked, n_parquet_scan,
           ROUND(fill_f_ma5, 3) AS fill_f_ma5,
           ROUND(fill_f_vol10, 3) AS fill_f_vol10,
           ROUND(fill_f_k, 3) AS fill_f_k,
           ROUND(daily_rate, 3) AS daily_accumulation_rate,
           CASE WHEN n_outcome_linked >= 100 THEN 1 ELSE 0 END
             AS m100_reached,
           CASE WHEN daily_rate > 0 AND n_outcome_linked < 100
                THEN CAST(CEIL((100 - n_outcome_linked) / daily_rate)
                     AS BIGINT) END AS m100_days,
           CASE WHEN n_outcome_linked >= 250 THEN 1 ELSE 0 END
             AS m250_reached,
           CASE WHEN daily_rate > 0 AND n_outcome_linked < 250
                THEN CAST(CEIL((250 - n_outcome_linked) / daily_rate)
                     AS BIGINT) END AS m250_days,
           CASE WHEN n_outcome_linked >= 500 THEN 1 ELSE 0 END
             AS m500_reached,
           CASE WHEN daily_rate > 0 AND n_outcome_linked < 500
                THEN CAST(CEIL((500 - n_outcome_linked) / daily_rate)
                     AS BIGINT) END AS m500_days,
           n_blockers,
           CASE WHEN daily_rate > 0
                     AND NOT (n_outcome_linked >= {_CRD_GATE_N}
                              AND n_blockers = 0)
                     AND n_outcome_linked < {_CRD_GATE_N}
                THEN CAST(CEIL(({_CRD_GATE_N} - n_outcome_linked)
                               / daily_rate) AS BIGINT) END
             AS days_to_ready_estimate,
           CASE WHEN n_outcome_linked >= {_CRD_GATE_N} AND n_blockers = 0
                  THEN 'READY'
                WHEN n_outcome_linked >= {_CRD_APPROACH_N}
                  THEN 'APPROACHING'
                ELSE 'NOT_READY' END AS verdict
    FROM j
"""


@query("classifier_readiness_check", oracle=_CRD_SQL)
def classifier_readiness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional-classifier activation readiness — reference
    `scripts/check_classifier_readiness.py:41-188` (`check_readiness`):
    label-source breakdown (outcome-linked vs parquet-scan), feature
    fill rates vs the 70% key-feature floor, the daily accumulation
    rate from the outcome-linked timestamp span (floor one day, >=2
    stamps, `:124-133`), milestone progress at 100/250/500 with
    ceil((target-current)/rate) days-remaining (`:65-72`), the blocker
    census (gate-floor shortfall + under-filled key features,
    `:146-156`) and the READY / APPROACHING / NOT_READY verdict with
    the days-to-ready estimate (`:158-171`).

    Scale: the dataset frame is the pipeline pack's one window pass
    with its forward value; readiness is two global folds joined as
    broadcast scalars."""
    from pyspark.sql import Window

    from .queries_pipeline import forward_value

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    k = F.get_json_object("props", "$.k").cast("int")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        "event_type",
        k.alias("k"),
        F.row_number().over(w).alias("rn"),
        F.log(F.col("value") / F.lag("value", 1).over(w)).alias("lr"),
        F.avg("value").over(w.rowsBetween(-4, 0)).alias("f_ma5"),
        F.stddev_samp("value").over(w.rowsBetween(-9, 0)).alias("f_vol10"),
        forward_value("value", (k % 5) + 1, w).alias("forward_close"),
    )
    lab = s.filter(
        (F.col("event_type") == "click") & F.col("k").isNotNull()
    )
    prod = (F.col("user_id") % 10 != 0) & F.col("lr").isNotNull()
    has_fwd = F.col("forward_close").isNotNull()
    ds = (
        lab.filter(has_fwd | prod)
        .select(
            "user_id",
            "ts",
            "lr",
            "f_ma5",
            "f_vol10",
            "k",
            F.when(has_fwd, "parquet_scan")
            .when(prod, "outcome_linked")
            .alias("label_source"),
        )
        .localCheckpoint()
    )
    ol = ds.filter(F.col("label_source") == "outcome_linked")
    rate = ol.agg(
        F.count(F.lit(1)).cast("long").alias("n_outcome_linked"),
        F.when(
            F.count(F.lit(1)) >= 2,
            F.count(F.lit(1))
            / F.greatest(
                F.lit(1.0),
                (
                    F.unix_timestamp(F.max("ts"))
                    - F.unix_timestamp(F.min("ts"))
                )
                / 86400.0,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("daily_rate"),
    )
    fill = lambda c: F.avg(  # noqa: E731
        F.when(F.col(c).isNull(), 0.0).otherwise(1.0)
    )
    agg = ds.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(
            F.when(F.col("label_source") == "parquet_scan", 1).otherwise(0)
        )
        .cast("long")
        .alias("n_parquet_scan"),
        fill("f_ma5").alias("fill_f_ma5"),
        fill("f_vol10").alias("fill_f_vol10"),
        fill("k").alias("fill_f_k"),
    )
    j = agg.crossJoin(F.broadcast(rate)).withColumn(
        "n_blockers",
        F.when(F.col("n_outcome_linked") < _CRD_GATE_N, 1).otherwise(0)
        + F.when(F.col("fill_f_ma5") < _CRD_MIN_FILL, 1).otherwise(0)
        + F.when(F.col("fill_f_vol10") < _CRD_MIN_FILL, 1).otherwise(0)
        + F.when(F.col("fill_f_k") < _CRD_MIN_FILL, 1).otherwise(0),
    )
    nol = F.col("n_outcome_linked")
    rt = F.col("daily_rate")

    def days_to(target):
        return F.when(
            (rt > 0) & (nol < target),
            F.ceil((target - nol) / rt).cast("long"),
        )

    ready = (nol >= _CRD_GATE_N) & (F.col("n_blockers") == 0)
    return j.select(
        "n_total",
        "n_outcome_linked",
        "n_parquet_scan",
        F.round("fill_f_ma5", 3).alias("fill_f_ma5"),
        F.round("fill_f_vol10", 3).alias("fill_f_vol10"),
        F.round("fill_f_k", 3).alias("fill_f_k"),
        F.round("daily_rate", 3).alias("daily_accumulation_rate"),
        F.when(nol >= 100, 1).otherwise(0).alias("m100_reached"),
        days_to(100).alias("m100_days"),
        F.when(nol >= 250, 1).otherwise(0).alias("m250_reached"),
        days_to(250).alias("m250_days"),
        F.when(nol >= 500, 1).otherwise(0).alias("m500_reached"),
        days_to(500).alias("m500_days"),
        "n_blockers",
        F.when(
            ~ready & (rt > 0) & (nol < _CRD_GATE_N),
            F.ceil((_CRD_GATE_N - nol) / rt).cast("long"),
        ).alias("days_to_ready_estimate"),
        F.when(ready, "READY")
        .when(nol >= _CRD_APPROACH_N, "APPROACHING")
        .otherwise("NOT_READY")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Ensemble diagnostics — reference scripts/run_ensemble_diagnostics.py
# ---------------------------------------------------------------------------
# Per (key, model) forecast diagnostics: the CI-width-derived confidence
# channel (narrow CI = high confidence, rescaled to [0.5, 1.0]; 0.75 when
# the width channel is degenerate, `:100-113`), the standard error metrics
# (RMSE / MAE / MAPE over non-zero actuals / sign-product directional
# accuracy, `compute_metrics:155-189`) and the default equal model weights
# when no logged weights exist (`:316-320`). Models are the engine's
# closed-form trio; the CI is the forecaster's ±1.96·rolling-σ band.
_ECD_SQL = """
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             LAG(value, 1) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS f_naive,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
               AS f_ma3,
             AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
               AS f_ma10,
             STDDEV_SAMP(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
               AS sigma
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    melted AS (
      SELECT user_id, rn, value, 'naive' AS model, f_naive AS fcast,
             2 * 1.96 * sigma AS ci_width
      FROM s WHERE rn >= 12
      UNION ALL
      SELECT user_id, rn, value, 'ma3', f_ma3, 2 * 1.96 * sigma
      FROM s WHERE rn >= 12
      UNION ALL
      SELECT user_id, rn, value, 'ma10', f_ma10, 2 * 1.96 * sigma
      FROM s WHERE rn >= 12
    ),
    conf AS (
      SELECT *,
             MAX(ci_width) OVER (PARTITION BY user_id, model) AS max_w,
             LAG(fcast) OVER (PARTITION BY user_id, model ORDER BY rn)
               AS prev_f,
             LAG(value) OVER (PARTITION BY user_id, model ORDER BY rn)
               AS prev_a
      FROM melted
    ),
    scored AS (
      SELECT user_id, model, value, fcast,
             CASE WHEN max_w > 0
                  THEN 0.5 + 0.5 * (1.0 - ci_width / max_w)
                  ELSE 0.75 END AS confidence,
             CASE WHEN prev_f IS NOT NULL
                  THEN CASE WHEN (fcast - prev_f) * (value - prev_a) > 0
                            THEN 1.0 ELSE 0.0 END END AS dir_ok
      FROM conf
    )
    SELECT user_id, model,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SQRT(AVG((fcast - value) * (fcast - value))), 6) AS rmse,
           ROUND(AVG(ABS(fcast - value)), 6) AS mae,
           ROUND(COALESCE(AVG(CASE WHEN value <> 0
                 THEN ABS((fcast - value) / value) END) * 100, 0.0), 6)
             AS mape,
           ROUND(COALESCE(AVG(dir_ok), 0.0), 6) AS directional_accuracy,
           ROUND(AVG(confidence), 6) AS mean_confidence,
           ROUND(1.0 / 3.0, 6) AS weight
    FROM scored
    GROUP BY user_id, model
"""


@query("ensemble_ci_diagnostics", oracle=_ECD_SQL)
def ensemble_ci_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(key, model) ensemble diagnostics — reference
    `scripts/run_ensemble_diagnostics.py`: the CI-width confidence
    channel (1 − width/max-width rescaled to [0.5, 1.0], 0.75
    degenerate default, `extract_forecast_data_from_db:100-113`), the
    standard metric set — RMSE, MAE, MAPE over non-zero actuals, and
    sign-product directional accuracy over consecutive forecast/actual
    diffs (`compute_metrics:155-189`) — and the default equal weights
    when no logged ensemble weights exist (`:316-320`).

    Scale: one window pass builds all three forecasters and the σ
    band; the melt triples rows; metrics are one keyed groupBy."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.lag("value", 1).over(w).alias("f_naive"),
        F.avg("value").over(w.rowsBetween(-3, -1)).alias("f_ma3"),
        F.avg("value").over(w.rowsBetween(-10, -1)).alias("f_ma10"),
        F.stddev_samp("value").over(w.rowsBetween(-10, -1)).alias("sigma"),
    ).filter(F.col("rn") >= 12)
    ciw = (2 * 1.96 * F.col("sigma")).alias("ci_width")
    melted = (
        s.select(
            "user_id",
            "rn",
            "value",
            F.lit("naive").alias("model"),
            F.col("f_naive").alias("fcast"),
            ciw,
        )
        .unionByName(
            s.select(
                "user_id",
                "rn",
                "value",
                F.lit("ma3").alias("model"),
                F.col("f_ma3").alias("fcast"),
                ciw,
            )
        )
        .unionByName(
            s.select(
                "user_id",
                "rn",
                "value",
                F.lit("ma10").alias("model"),
                F.col("f_ma10").alias("fcast"),
                ciw,
            )
        )
    )
    wkm = Window.partitionBy("user_id", "model")
    wkmo = wkm.orderBy("rn")
    conf = melted.select(
        "*",
        F.max("ci_width").over(wkm).alias("max_w"),
        F.lag("fcast").over(wkmo).alias("prev_f"),
        F.lag("value").over(wkmo).alias("prev_a"),
    )
    scored = conf.select(
        "user_id",
        "model",
        "value",
        "fcast",
        F.when(
            F.col("max_w") > 0,
            0.5 + 0.5 * (1.0 - F.col("ci_width") / F.col("max_w")),
        )
        .otherwise(F.lit(0.75))
        .alias("confidence"),
        F.when(
            F.col("prev_f").isNotNull(),
            F.when(
                (F.col("fcast") - F.col("prev_f"))
                * (F.col("value") - F.col("prev_a"))
                > 0,
                1.0,
            ).otherwise(0.0),
        ).alias("dir_ok"),
    )
    err = F.col("fcast") - F.col("value")
    return scored.groupBy("user_id", "model").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        r6(F.sqrt(F.avg(err * err))).alias("rmse"),
        r6(F.avg(F.abs(err))).alias("mae"),
        r6(
            F.coalesce(
                F.avg(
                    F.when(
                        F.col("value") != 0,
                        F.abs(err / F.col("value")),
                    )
                )
                * 100,
                F.lit(0.0),
            )
        ).alias("mape"),
        r6(F.coalesce(F.avg("dir_ok"), F.lit(0.0))).alias(
            "directional_accuracy"
        ),
        r6(F.avg("confidence")).alias("mean_confidence"),
        r6(F.lit(1.0 / 3.0)).alias("weight"),
    )


# ---------------------------------------------------------------------------
# Box-bounded ensemble weight optimization —
# reference scripts/optimize_ensemble_weights.py
# ---------------------------------------------------------------------------
# scipy SLSQP minimizing ensemble RMSE over the simplex WITH the per-model
# box bounds [0.05, 0.95] (`EnsembleWeightOptimizer.__init__:64-72`,
# `optimize_weights:74-189`). For the 3-model stack the strictly convex
# bounded QP solves EXACTLY by active-set enumeration: each weight is at
# its lower bound, upper bound, or free — 19 structurally distinct
# candidates (interior; one weight pinned ×6; two pinned ×12). Each
# candidate's free weights are closed-form equality-constrained least
# squares; the optimum is the feasible candidate with minimal RMSE, so no
# iterative solver survives into the engine. The candidate table below is
# GENERATED once and rendered into both the Spark plan and the DuckDB
# oracle, so the two sides cannot drift.
_EWB_LO = 0.05
_EWB_HI = 0.95


def _ewb_candidates() -> list[tuple[str, str, str, str, str]]:
    """(name, w1, w2, w3, feasible) SQL-expression tuples over the gram
    columns g11..g33/b1..b3 and the interior solution wf1..wf3."""
    lo, hi = repr(_EWB_LO), repr(_EWB_HI)
    gg = {
        (1, 1): "g11", (2, 2): "g22", (3, 3): "g33",
        (1, 2): "g12", (2, 1): "g12", (1, 3): "g13",
        (3, 1): "g13", (2, 3): "g23", (3, 2): "g23",
    }
    cands: list[tuple[str, str, str, str, str]] = []
    # interior (R36 closed form, bounds checked)
    cands.append((
        "interior", "wf1", "wf2", "wf3",
        f"wf1 BETWEEN {lo} AND {hi} AND wf2 BETWEEN {lo} AND {hi}"
        f" AND wf3 BETWEEN {lo} AND {hi}",
    ))
    # one pinned, two free: t* = (b_i - b_j + beta(g_jk - g_ik)
    #                             + S(g_jj - g_ij)) / (g_ii + g_jj - 2g_ij)
    for k in (1, 2, 3):
        i, j = [m for m in (1, 2, 3) if m != k]
        for beta in (lo, hi):
            s = f"(1.0 - {beta})"
            t = (
                f"((b{i} - b{j} + {beta} * ({gg[(j, k)]} - {gg[(i, k)]})"
                f" + {s} * ({gg[(j, j)]} - {gg[(i, j)]}))"
                f" / NULLIF({gg[(i, i)]} + {gg[(j, j)]}"
                f" - 2.0 * {gg[(i, j)]}, 0))"
            )
            w = {k: beta, i: t, j: f"({s} - {t})"}
            feas = (
                f"{t} BETWEEN {lo} AND {hi}"
                f" AND ({s} - {t}) BETWEEN {lo} AND {hi}"
            )
            cands.append((
                f"pin{k}@{beta}", w[1], w[2], w[3], feas,
            ))
    # two pinned, third determined
    for k, l in ((1, 2), (1, 3), (2, 3)):
        m = [x for x in (1, 2, 3) if x not in (k, l)][0]
        for bk in (lo, hi):
            for bl in (lo, hi):
                wm = f"(1.0 - {bk} - {bl})"
                w = {k: bk, l: bl, m: wm}
                cands.append((
                    f"pin{k}@{bk}+pin{l}@{bl}", w[1], w[2], w[3],
                    f"{wm} BETWEEN {lo} AND {hi}",
                ))
    return cands


def _ewb_obj(w1: str, w2: str, w3: str) -> str:
    return (
        f"(aa - 2.0 * ({w1} * b1 + {w2} * b2 + {w3} * b3)"
        f" + ({w1} * {w1} * g11 + {w2} * {w2} * g22 + {w3} * {w3} * g33"
        f" + 2.0 * ({w1} * {w2} * g12 + {w1} * {w3} * g13"
        f" + {w2} * {w3} * g23))) / n"
    )


_EWB_CAND_SQL = "\n      UNION ALL\n".join(
    f"""      SELECT user_id, n, aa, '{name}' AS cand,
             {w1} AS w1, {w2} AS w2, {w3} AS w3,
             {_ewb_obj(w1, w2, w3)} AS j
      FROM uvw WHERE {feas}"""
    for name, w1, w2, w3, feas in _ewb_candidates()
)

_EWB_SQL = f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM (SELECT * FROM events WHERE value > 0)
    ),
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
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
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
    uvw0 AS (
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
    uvw AS (
      SELECT *,
             u1 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v1 AS wf1,
             u2 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v2 AS wf2,
             u3 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v3 AS wf3
      FROM uvw0
    ),
    cands AS (
{_EWB_CAND_SQL}
    ),
    best AS (
      -- selection by the gram-expanded objective (rounded to absorb
      -- partial-sum noise); RMSEs re-derived per-row below, where the
      -- positive residual sum has no cancellation
      SELECT user_id, n, cand,
             ROUND(w1, 4) AS w1, ROUND(w2, 4) AS w2, ROUND(w3, 4) AS w3
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ROUND(j, 3), cand) AS rk
            FROM cands WHERE j IS NOT NULL) z
      WHERE rk = 1
    ),
    scoredrows AS (
      SELECT b.user_id, b.n, b.cand, b.w1, b.w2, b.w3,
             POWER(f.a - (b.w1 * f.p1 + b.w2 * f.p2 + b.w3 * f.p3), 2)
               AS res2,
             POWER(f.a - (f.p1 + f.p2 + f.p3) / 3.0, 2) AS res2_uni
      FROM best b JOIN f ON f.user_id = b.user_id
    )
    SELECT user_id, ANY_VALUE(n) AS n, ANY_VALUE(cand) AS active_set,
           ANY_VALUE(w1) AS w_naive,
           ANY_VALUE(w2) AS w_ma3,
           ANY_VALUE(w3) AS w_ma10,
           ROUND(SQRT(AVG(res2)), 4) AS final_rmse,
           ROUND(SQRT(AVG(res2_uni)), 4) AS initial_rmse,
           ROUND((SQRT(AVG(res2_uni)) - SQRT(AVG(res2)))
                 / SQRT(AVG(res2_uni)) * 100.0, 4) AS improvement_pct
    FROM scoredrows GROUP BY user_id
"""


@query("ensemble_weight_optimization_bounded", oracle=_EWB_SQL)
def ensemble_weight_optimization_bounded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Box-bounded ensemble weight optimization — reference
    `scripts/optimize_ensemble_weights.py:74-189` (`optimize_weights`):
    scipy SLSQP minimizing ensemble RMSE over the probability simplex
    with per-model bounds [0.05, 0.95] and uniform initial weights; the
    reported improvement_pct is (initial−final)/initial RMSE (`:172-177`).
    The engine solves the strictly convex bounded QP EXACTLY by
    enumerating the 19 bound-activity patterns (interior / one pinned /
    two pinned), solving each reduced equality-constrained LS in closed
    form, and taking the feasible minimum — the same no-iterative-solver
    discipline as `ensemble_weight_optimization` (R36), extended to box
    constraints. Candidate expressions are generated once and rendered
    into BOTH the Spark plan and the oracle SQL.

    Scale: one Gram aggregation per key; the 19-candidate enumeration is
    per-key column algebra on the one-row-per-key frame."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr = Window.partitionBy("user_id").orderBy("rn")
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
    )
    f = s.select(
        "user_id",
        "rn",
        F.col("value").alias("a"),
        F.lag("value", 1).over(wr).alias("p1"),
        F.avg("value").over(wr.rowsBetween(-3, -1)).alias("p2"),
        F.avg("value").over(wr.rowsBetween(-10, -1)).alias("p3"),
    ).filter(F.col("rn") >= 11)
    k = (
        f.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
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
    # interior solution columns via the same SQL fragments (selectExpr
    # keeps the algebra literally identical to the oracle)
    uvw = k.selectExpr(
        "*",
        "g11*(g22*g33 - g23*g23) - g12*(g12*g33 - g23*g13)"
        " + g13*(g12*g23 - g22*g13) AS det",
    ).selectExpr(
        "*",
        "((g22*g33 - g23*g23)*b1 + (g13*g23 - g12*g33)*b2"
        " + (g12*g23 - g13*g22)*b3) / NULLIF(det, 0) AS u1",
        "((g13*g23 - g12*g33)*b1 + (g11*g33 - g13*g13)*b2"
        " + (g12*g13 - g11*g23)*b3) / NULLIF(det, 0) AS u2",
        "((g12*g23 - g13*g22)*b1 + (g12*g13 - g11*g23)*b2"
        " + (g11*g22 - g12*g12)*b3) / NULLIF(det, 0) AS u3",
        "((g22*g33 - g23*g23) + (g13*g23 - g12*g33)"
        " + (g12*g23 - g13*g22)) / NULLIF(det, 0) AS v1",
        "((g13*g23 - g12*g33) + (g11*g33 - g13*g13)"
        " + (g12*g13 - g11*g23)) / NULLIF(det, 0) AS v2",
        "((g12*g23 - g13*g22) + (g12*g13 - g11*g23)"
        " + (g11*g22 - g12*g12)) / NULLIF(det, 0) AS v3",
    ).selectExpr(
        "*",
        "u1 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v1 AS wf1",
        "u2 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v2 AS wf2",
        "u3 + (1.0 - (u1+u2+u3)) / NULLIF(v1+v2+v3, 0) * v3 AS wf3",
    )
    cand_struct = ", ".join(
        f"CASE WHEN {feas} THEN named_struct("
        f"'cand', '{name}', 'w1', CAST({w1} AS DOUBLE),"
        f" 'w2', CAST({w2} AS DOUBLE), 'w3', CAST({w3} AS DOUBLE),"
        f" 'j', CAST({_ewb_obj(w1, w2, w3)} AS DOUBLE)) END"
        for name, w1, w2, w3, feas in _ewb_candidates()
    )
    cands = (
        uvw.selectExpr(
            "user_id",
            "n",
            "aa",
            f"{_ewb_obj('(1.0/3.0)', '(1.0/3.0)', '(1.0/3.0)')} AS j0",
            f"array({cand_struct}) AS cs",
        )
        .select(
            "user_id",
            "n",
            "j0",
            F.explode(F.expr("filter(cs, x -> x IS NOT NULL)")).alias("c"),
        )
        .select(
            "user_id",
            "n",
            "j0",
            F.col("c.cand").alias("cand"),
            F.col("c.w1").alias("w1"),
            F.col("c.w2").alias("w2"),
            F.col("c.w3").alias("w3"),
            F.col("c.j").alias("j"),
        )
        .filter(F.col("j").isNotNull())
    )
    wbest = Window.partitionBy("user_id").orderBy(
        F.round(F.col("j"), 3), F.col("cand")
    )
    best = (
        cands.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            F.col("user_id").alias("b_uid"),
            "n",
            "cand",
            F.round("w1", 4).alias("w1"),
            F.round("w2", 4).alias("w2"),
            F.round("w3", 4).alias("w3"),
        )
    )
    # RMSEs re-derived per-row (positive residual sum, no cancellation)
    scored = best.join(f, F.col("b_uid") == f.user_id).select(
        "b_uid",
        "n",
        "cand",
        "w1",
        "w2",
        "w3",
        F.pow(
            F.col("a")
            - (
                F.col("w1") * F.col("p1")
                + F.col("w2") * F.col("p2")
                + F.col("w3") * F.col("p3")
            ),
            2,
        ).alias("res2"),
        F.pow(
            F.col("a")
            - (F.col("p1") + F.col("p2") + F.col("p3")) / 3.0,
            2,
        ).alias("res2_uni"),
    )
    fin = F.sqrt(F.avg("res2"))
    ini = F.sqrt(F.avg("res2_uni"))
    return scored.groupBy("b_uid").agg(
        F.any_value("n").alias("n"),
        F.any_value("cand").alias("active_set"),
        F.any_value("w1").alias("w_naive"),
        F.any_value("w2").alias("w_ma3"),
        F.any_value("w3").alias("w_ma10"),
        F.round(fin, 4).alias("final_rmse"),
        F.round(ini, 4).alias("initial_rmse"),
        F.round((ini - fin) / ini * 100.0, 4).alias("improvement_pct"),
    ).withColumnRenamed("b_uid", "user_id")


# ---------------------------------------------------------------------------
# Synthetic-trade contamination audit —
# reference scripts/cleanup_synthetic_trades.py
# ---------------------------------------------------------------------------
# Dry-run semantics (the script's default before --apply): every census is
# computed against the stored state. Provenance channels on the closed-trade
# frame: data_source NULL when orderkey%19=0, execution_mode NULL when
# orderkey%23=0, pipeline_id NULL when orderkey%29=0, run_id NULL when
# orderkey%31=0, already-tagged is_test_data when orderkey%37=0; the
# synthetic ticker bucket (custkey%25=24) prints as 'SYN24'.
_SCA_SQL = """
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             CAST(MAX(l.l_shipdate) AS DATE) AS close_d
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
    tr AS (
      SELECT c.l_orderkey AS orderkey,
             CASE WHEN o.o_custkey % 25 = 24
                  THEN 'SYN' || CAST(o.o_custkey % 25 AS VARCHAR)
                  ELSE 'T' || CAST(o.o_custkey % 25 AS VARCHAR) END
               AS ticker,
             c.close_d, c.cnet - o2.onet AS pnl,
             (c.l_orderkey % 19 = 0) AS null_source,
             (c.l_orderkey % 23 = 0) AS null_mode,
             (c.l_orderkey % 29 = 0) AS null_pipeline,
             (c.l_orderkey % 31 = 0) AS null_run,
             (c.l_orderkey % 37 = 0) AS tagged
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    stats AS (
      SELECT 'stats' AS section, 'total_trades' AS key,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(NULL AS DOUBLE) AS total_pnl,
             CAST(NULL AS VARCHAR) AS first_trade,
             CAST(NULL AS VARCHAR) AS last_trade
      FROM tr
      UNION ALL SELECT 'stats', 'null_source',
             CAST(SUM(CASE WHEN null_source THEN 1 ELSE 0 END) AS BIGINT),
             NULL, NULL, NULL FROM tr
      UNION ALL SELECT 'stats', 'null_exec_mode',
             CAST(SUM(CASE WHEN null_mode THEN 1 ELSE 0 END) AS BIGINT),
             NULL, NULL, NULL FROM tr
      UNION ALL SELECT 'stats', 'synthetic_tickers',
             CAST(SUM(CASE WHEN ticker LIKE 'SYN%' THEN 1 ELSE 0 END)
               AS BIGINT), NULL, NULL, NULL FROM tr
      UNION ALL SELECT 'stats', 'null_pipeline_id',
             CAST(SUM(CASE WHEN null_pipeline THEN 1 ELSE 0 END)
               AS BIGINT), NULL, NULL, NULL FROM tr
      UNION ALL SELECT 'stats', 'null_run_id',
             CAST(SUM(CASE WHEN null_run THEN 1 ELSE 0 END) AS BIGINT),
             NULL, NULL, NULL FROM tr
      UNION ALL SELECT 'stats', 'already_tagged',
             CAST(SUM(CASE WHEN tagged THEN 1 ELSE 0 END) AS BIGINT),
             NULL, NULL, NULL FROM tr
      UNION ALL SELECT 'tag_plan', 'tag_null_sources',
             CAST(SUM(CASE WHEN (null_source OR null_mode)
                                AND NOT tagged THEN 1 ELSE 0 END)
               AS BIGINT), NULL, NULL, NULL FROM tr
      UNION ALL SELECT 'tag_plan', 'tag_synthetic_tickers',
             CAST(SUM(CASE WHEN ticker LIKE 'SYN%'
                                AND NOT tagged THEN 1 ELSE 0 END)
               AS BIGINT), NULL, NULL, NULL FROM tr
      UNION ALL SELECT 'production_view', 'production_trades',
             CAST(SUM(CASE WHEN NOT (tagged OR null_source OR null_mode
                                     OR ticker LIKE 'SYN%')
                           THEN 1 ELSE 0 END) AS BIGINT),
             NULL, NULL, NULL FROM tr
      UNION ALL
      SELECT 'syn_ticker', ticker, CAST(COUNT(*) AS BIGINT),
             ROUND(SUM(COALESCE(pnl, 0.0)), 6),
             CAST(MIN(close_d) AS VARCHAR), CAST(MAX(close_d) AS VARCHAR)
      FROM tr WHERE ticker LIKE 'SYN%' GROUP BY ticker
    )
    SELECT * FROM stats
"""


@query("synthetic_contamination_audit", oracle=_SCA_SQL)
def synthetic_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic-trade contamination audit — reference
    `scripts/cleanup_synthetic_trades.py`: the contamination censuses
    (`analyze_contamination:108-189`: NULL data_source /
    execution_mode / pipeline_id / run_id, SYN-prefixed tickers,
    already-tagged rows), the two dry-run tag plans — null-provenance
    rows and synthetic-ticker rows not yet tagged
    (`tag_null_sources:191-245`, `tag_synthetic_tickers:246-283`) —
    the production_trades view census (rows surviving both tag rules,
    `create_production_view:284-300`) and the per-SYN-ticker detail
    rows (`get_synthetic_ticker_details:301-329`).

    Scale: single-pass censuses over the closed-trade frame; the SYN
    detail groupBy is bounded by the synthetic-ticker bucket count."""
    okc = F.col("c.l_orderkey")
    tr = (
        _closed_trades(spark, sf_dir)
        .select(
            okc.alias("orderkey"),
            F.when(
                F.col("o_custkey") % 25 == 24,
                F.concat(
                    F.lit("SYN"), (F.col("o_custkey") % 25).cast("string")
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("T"), (F.col("o_custkey") % 25).cast("string")
                )
            )
            .alias("ticker"),
            "close_d",
            (F.col("cnet") - F.col("onet")).alias("pnl"),
            (okc % 19 == 0).alias("null_source"),
            (okc % 23 == 0).alias("null_mode"),
            (okc % 29 == 0).alias("null_pipeline"),
            (okc % 31 == 0).alias("null_run"),
            (okc % 37 == 0).alias("tagged"),
        )
        .localCheckpoint()
    )
    syn = F.col("ticker").startswith("SYN")
    cnt = lambda cond: F.coalesce(  # noqa: E731
        F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
    ).cast("long")

    def srow(section, key, n_col):
        return tr.agg(n_col.alias("n")).select(
            F.lit(section).alias("section"),
            F.lit(key).alias("key"),
            "n",
            F.lit(None).cast("double").alias("total_pnl"),
            F.lit(None).cast("string").alias("first_trade"),
            F.lit(None).cast("string").alias("last_trade"),
        )

    out = srow("stats", "total_trades", F.count(F.lit(1)).cast("long"))
    for key, cond in [
        ("null_source", F.col("null_source")),
        ("null_exec_mode", F.col("null_mode")),
        ("synthetic_tickers", syn),
        ("null_pipeline_id", F.col("null_pipeline")),
        ("null_run_id", F.col("null_run")),
        ("already_tagged", F.col("tagged")),
    ]:
        out = out.unionByName(srow("stats", key, cnt(cond)))
    out = out.unionByName(
        srow(
            "tag_plan",
            "tag_null_sources",
            cnt(
                (F.col("null_source") | F.col("null_mode"))
                & ~F.col("tagged")
            ),
        )
    ).unionByName(
        srow("tag_plan", "tag_synthetic_tickers", cnt(syn & ~F.col("tagged")))
    ).unionByName(
        srow(
            "production_view",
            "production_trades",
            cnt(
                ~(
                    F.col("tagged")
                    | F.col("null_source")
                    | F.col("null_mode")
                    | syn
                )
            ),
        )
    )
    details = tr.filter(syn).groupBy("ticker").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        r6(F.sum(F.coalesce(F.col("pnl"), F.lit(0.0)))).alias("total_pnl"),
        F.min("close_d").cast("string").alias("first_trade"),
        F.max("close_d").cast("string").alias("last_trade"),
    ).select(
        F.lit("syn_ticker").alias("section"),
        F.col("ticker").alias("key"),
        "n",
        "total_pnl",
        "first_trade",
        "last_trade",
    )
    return out.unionByName(details)


# ---------------------------------------------------------------------------
# Open-trade liquidation plan — reference scripts/liquidate_open_trades.py
# ---------------------------------------------------------------------------
# Per open trade: the spot-price ladder (local last close -> vendor ->
# entry-price fallback; no network here, so the vendor rung resolves to the
# fallback, `_build_spot_price_map:137-162`), the mark-to-market policies
# (`_mark_to_market:236-300`: neutral spot, conservative no-unrealised-gain
# clamp, option intrinsic) and full Black-Scholes with the 60-day realised
# vol, the 0.02 risk-free default (`_load_risk_free_rate:198-208`) and the
# erf-based normal CDF (`_black_scholes_price:210-234`) — portable here via
# the engine's A&S erfc helper (Phi(d) = 1 - 0.5*erfc_as(d^2) for d>=0).
# Instrument channels on open ('O'-status) orders: call when orderkey%11=0,
# put when orderkey%13=0 (call wins overlap), else spot; strike =
# entry*(0.9 + (orderkey%5)*0.05); expiry = orderdate + 90 + orderkey%180
# days; valuation as-of 1998-08-01. Every BS input is rounded to 6dp on
# both sides before the formula (the chi2_sf1 input discipline).
_LIQ_AS_OF = "1998-08-01"
_LIQ_RATE = 0.02


def _liq_phi_sql(d: str) -> str:
    from ..functions.scalars import chi2_sf1_sql

    e = chi2_sf1_sql(f"({d}) * ({d})")
    return (
        f"(CASE WHEN ({d}) >= 0 THEN 1.0 - 0.5 * {e}"
        f" ELSE 0.5 * {e} END)"
    )


_LIQ_SQL = f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(28,8))) AS DOUBLE) AS cnet,
             CAST(MAX(l.l_shipdate) AS DATE) AS close_d
      FROM lineitem l
      JOIN mx ON mx.l_orderkey = l.l_orderkey
             AND l.l_linenumber = mx.maxline
      GROUP BY l.l_orderkey
    ),
    closed AS (
      SELECT 'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             c.l_orderkey AS orderkey, c.close_d,
             c.cnet / c.cq AS px
      FROM closes c
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND c.cq > 0
    ),
    lastpx AS (
      SELECT ticker, px AS spot_db
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY ticker
                 ORDER BY close_d DESC, orderkey DESC) AS rk
            FROM closed) z
      WHERE rk = 1
    ),
    volser AS (
      SELECT ticker, px,
             LAG(px) OVER (PARTITION BY ticker
                           ORDER BY close_d, orderkey) AS prev_px
      FROM closed
      WHERE close_d BETWEEN DATE '{_LIQ_AS_OF}' - 60
                        AND DATE '{_LIQ_AS_OF}'
    ),
    vol AS (
      SELECT ticker,
             CASE WHEN COUNT(LN(GREATEST(px / prev_px, 1e-12))) >= 2
                  THEN STDDEV_SAMP(LN(GREATEST(px / prev_px, 1e-12)))
             END AS rv
      FROM volser WHERE prev_px > 0
      GROUP BY ticker
    ),
    opens AS (
      SELECT l_orderkey, SUM(l_quantity) AS oq,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(28,8))) AS DOUBLE) AS onet,
             MAX(l_linestatus) AS ostatus
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    open_tr AS (
      SELECT op.l_orderkey AS orderkey,
             'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             CASE WHEN op.ostatus = 'O' THEN 'BUY' ELSE 'SELL' END
               AS action,
             op.oq AS shares,
             FLOOR(op.onet / op.oq * 1e6 + 0.5) / 1e6 AS entry,
             CASE WHEN op.l_orderkey % 11 = 0 THEN 'call'
                  WHEN op.l_orderkey % 13 = 0 THEN 'put'
                  ELSE 'spot' END AS instrument,
             FLOOR(op.onet / op.oq * 1e6 + 0.5) / 1e6
               * CAST(90 + (op.l_orderkey % 5) * 5 AS DOUBLE)
               / 100.0 AS strike,
             CAST(o.o_orderdate AS DATE)
               + CAST(90 + op.l_orderkey % 180 AS INTEGER) AS expiry
      FROM opens op
      JOIN orders o ON o.o_orderkey = op.l_orderkey
      WHERE o.o_orderstatus = 'O' AND op.oq > 0
    ),
    enriched AS (
      SELECT t.*,
             FLOOR(COALESCE(lp.spot_db, t.entry) * 1e6 + 0.5) / 1e6
               AS spot,
             FLOOR(t.strike * 1e6 + 0.5) / 1e6 AS k,
             ROUND(COALESCE(v.rv, 0.0), 6) AS rv,
             ROUND(GREATEST(expiry - DATE '{_LIQ_AS_OF}', 0)
                   / 365.0, 6) AS t_years
      FROM open_tr t
      LEFT JOIN lastpx lp ON lp.ticker = t.ticker
      LEFT JOIN vol v ON v.ticker = t.ticker
    ),
    bs AS (
      SELECT *,
             CASE WHEN instrument = 'call' THEN GREATEST(spot - k, 0.0)
                  WHEN instrument = 'put' THEN GREATEST(k - spot, 0.0)
             END AS intrinsic,
             (LN(spot / k) + ({_LIQ_RATE} + 0.5 * rv * rv) * t_years)
               / NULLIF(rv * SQRT(t_years), 0) AS d1
      FROM enriched
    ),
    bs2 AS (
      SELECT *, d1 - rv * SQRT(t_years) AS d2 FROM bs
    ),
    priced AS (
      SELECT *,
             CASE
               WHEN instrument = 'spot' THEN NULL
               WHEN spot <= 0 OR k <= 0 OR rv <= 0 OR t_years <= 0
                 THEN intrinsic
               WHEN instrument = 'call' THEN
                 spot * {_liq_phi_sql('d1')}
                 - k * EXP(-{_LIQ_RATE} * t_years) * {_liq_phi_sql('d2')}
               ELSE
                 k * EXP(-{_LIQ_RATE} * t_years) * {_liq_phi_sql('(-d2)')}
                 - spot * {_liq_phi_sql('(-d1)')}
             END AS bs_price
      FROM bs2
    )
    SELECT orderkey, ticker, instrument, action,
           ROUND(shares, 6) AS shares,
           entry AS entry_price,
           spot, k AS strike, rv AS realized_vol, t_years,
           CASE WHEN instrument = 'spot' THEN spot END AS mtm_neutral,
           CASE WHEN instrument = 'spot' THEN
                 CASE WHEN action = 'BUY' THEN LEAST(spot, entry)
                      ELSE GREATEST(spot, entry) END END
             AS mtm_conservative,
           FLOOR(intrinsic * 1e6 + 0.5) / 1e6 AS mtm_intrinsic,
           FLOOR(bs_price * 1e6 + 0.5) / 1e6 AS mtm_bs,
           FLOOR((CASE WHEN action = 'BUY' THEN 1.0 ELSE -1.0 END
                 * (COALESCE(CASE WHEN instrument = 'spot' THEN spot
                             ELSE bs_price END, entry) - entry)
                 * shares) * 1e6 + 0.5) / 1e6 AS unrealized_pnl
    FROM priced
"""


@query("open_trade_liquidation_plan", oracle=_LIQ_SQL)
def open_trade_liquidation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-trade liquidation marks — reference
    `scripts/liquidate_open_trades.py`: the spot ladder (local last
    close, vendor, entry fallback — no network, so vendor resolves to
    the fallback, `_build_spot_price_map:137-162`), neutral and
    conservative spot MtM (clamp away unrealised gains per side,
    `_mark_to_market:258-264`), option intrinsic value, and the full
    Black-Scholes mark with 60-day realised vol
    (`_estimate_realised_vol:189-196`), the 0.02 risk-free default and
    the erf-based normal CDF (`_black_scholes_price:210-234`) —
    rendered portable through the engine's A&S 7.1.26 erfc helper with
    6dp-rounded inputs. unrealized_pnl uses the policy-neutral mark.

    Scale: per-ticker last-close and vol windows over the closed-trade
    frame; open trades join them on ticker. BS is per-row column
    algebra — no UDF."""
    from pyspark.sql import Window

    from ..functions.scalars import chi2_sf1

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    mx = li.groupBy("l_orderkey").agg(F.max("l_linenumber").alias("maxline"))
    closes = (
        li.join(
            mx,
            (li.l_orderkey == mx.l_orderkey)
            & (li.l_linenumber == mx.maxline),
        )
        .drop(mx.l_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("cq"),
            F.sum(net.cast("decimal(28,8)")).cast("double").alias("cnet"),
            F.to_date(F.max("l_shipdate")).alias("close_d"),
        )
    )
    closed = (
        closes.join(
            o.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(F.col("cq") > 0)
        .select(
            F.concat(
                F.lit("T"), (F.col("o_custkey") % 25).cast("string")
            ).alias("ticker"),
            F.col("l_orderkey").alias("orderkey"),
            "close_d",
            (F.col("cnet") / F.col("cq")).alias("px"),
        )
        .localCheckpoint()
    )
    wlast = Window.partitionBy("ticker").orderBy(
        F.col("close_d").desc(), F.col("orderkey").desc()
    )
    lastpx = (
        closed.withColumn("rk", F.row_number().over(wlast))
        .filter(F.col("rk") == 1)
        .select(F.col("ticker").alias("lt"), F.col("px").alias("spot_db"))
    )
    as_of = F.lit(_LIQ_AS_OF).cast("date")
    wvol = Window.partitionBy("ticker").orderBy("close_d", "orderkey")
    volser = closed.filter(
        (F.col("close_d") >= F.date_sub(as_of, 60))
        & (F.col("close_d") <= as_of)
    ).withColumn("prev_px", F.lag("px").over(wvol))
    lr = F.log(F.greatest(F.col("px") / F.col("prev_px"), F.lit(1e-12)))
    vol = (
        volser.filter(F.col("prev_px") > 0)
        .groupBy("ticker")
        .agg(
            F.when(F.count(lr) >= 2, F.stddev_samp(lr)).alias("rv")
        )
        .select(F.col("ticker").alias("vt"), "rv")
    )
    opens = (
        li.filter(
            (F.col("l_linenumber") == 1) & (F.col("l_returnflag") != "R")
        )
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("oq"),
            F.sum(net.cast("decimal(28,8)")).cast("double").alias("onet"),
            F.max("l_linestatus").alias("ostatus"),
        )
    )
    ok = F.col("l_orderkey")
    entry = F.col("onet") / F.col("oq")
    open_tr = (
        opens.join(
            o.filter(F.col("o_orderstatus") == "O"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(F.col("oq") > 0)
        .select(
            ok.alias("orderkey"),
            F.concat(
                F.lit("T"), (F.col("o_custkey") % 25).cast("string")
            ).alias("ticker"),
            F.when(F.col("ostatus") == "O", "BUY")
            .otherwise("SELL")
            .alias("action"),
            F.col("oq").alias("shares"),
            (F.floor(entry * 1e6 + 0.5) / 1e6).alias("entry"),
            F.when(ok % 11 == 0, "call")
            .when(ok % 13 == 0, "put")
            .otherwise("spot")
            .alias("instrument"),
            (
                F.floor(entry * 1e6 + 0.5)
                / 1e6
                * (90 + (ok % 5) * 5).cast("double")
                / 100.0
            ).alias("strike"),
            F.expr(
                "date_add(CAST(o_orderdate AS DATE),"
                " CAST(90 + l_orderkey % 180 AS INT))"
            ).alias("expiry"),
        )
    )
    enriched = (
        open_tr.join(lastpx, F.col("lt") == F.col("ticker"), "left")
        .join(vol, F.col("vt") == F.col("ticker"), "left")
        .select(
            "orderkey",
            "ticker",
            "action",
            "shares",
            "entry",
            "instrument",
            (
                F.floor(
                    F.coalesce(F.col("spot_db"), F.col("entry")) * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("spot"),
            (F.floor(F.col("strike") * 1e6 + 0.5) / 1e6).alias("k"),
            F.round(F.coalesce(F.col("rv"), F.lit(0.0)), 6).alias("rv"),
            F.round(
                F.greatest(
                    F.datediff(F.col("expiry"), as_of), F.lit(0)
                )
                / 365.0,
                6,
            ).alias("t_years"),
        )
    )
    intrinsic = F.when(
        F.col("instrument") == "call",
        F.greatest(F.col("spot") - F.col("k"), F.lit(0.0)),
    ).when(
        F.col("instrument") == "put",
        F.greatest(F.col("k") - F.col("spot"), F.lit(0.0)),
    )
    d1 = (
        F.log(F.col("spot") / F.col("k"))
        + (_LIQ_RATE + 0.5 * F.col("rv") * F.col("rv")) * F.col("t_years")
    ) / F.nullif(F.col("rv") * F.sqrt(F.col("t_years")), F.lit(0.0))
    bs2 = enriched.withColumn("intrinsic", intrinsic).withColumn(
        "d1", d1
    ).withColumn("d2", F.col("d1") - F.col("rv") * F.sqrt(F.col("t_years")))

    def phi(d):
        e = chi2_sf1(d * d)
        return F.when(d >= 0, 1.0 - 0.5 * e).otherwise(0.5 * e)

    disc = F.exp(F.lit(-_LIQ_RATE) * F.col("t_years"))
    bs_price = (
        F.when(F.col("instrument") == "spot", F.lit(None).cast("double"))
        .when(
            (F.col("spot") <= 0)
            | (F.col("k") <= 0)
            | (F.col("rv") <= 0)
            | (F.col("t_years") <= 0),
            F.col("intrinsic"),
        )
        .when(
            F.col("instrument") == "call",
            F.col("spot") * phi(F.col("d1"))
            - F.col("k") * disc * phi(F.col("d2")),
        )
        .otherwise(
            F.col("k") * disc * phi(-F.col("d2"))
            - F.col("spot") * phi(-F.col("d1"))
        )
    )
    priced = bs2.withColumn("bs_price", bs_price)
    side = F.when(F.col("action") == "BUY", 1.0).otherwise(-1.0)
    mark = F.coalesce(
        F.when(F.col("instrument") == "spot", F.col("spot")).otherwise(
            F.col("bs_price")
        ),
        F.col("entry"),
    )
    hr6 = lambda c: F.floor(c * 1e6 + 0.5) / 1e6  # noqa: E731
    return priced.select(
        "orderkey",
        "ticker",
        "instrument",
        "action",
        r6(F.col("shares")).alias("shares"),
        F.col("entry").alias("entry_price"),
        "spot",
        F.col("k").alias("strike"),
        F.col("rv").alias("realized_vol"),
        "t_years",
        F.when(F.col("instrument") == "spot", F.col("spot")).alias(
            "mtm_neutral"
        ),
        F.when(
            F.col("instrument") == "spot",
            F.when(
                F.col("action") == "BUY",
                F.least(F.col("spot"), F.col("entry")),
            ).otherwise(F.greatest(F.col("spot"), F.col("entry"))),
        ).alias("mtm_conservative"),
        hr6(F.col("intrinsic")).alias("mtm_intrinsic"),
        hr6(F.col("bs_price")).alias("mtm_bs"),
        hr6(side * (mark - F.col("entry")) * F.col("shares")).alias(
            "unrealized_pnl"
        ),
    )


# ---------------------------------------------------------------------------
# Pipeline input validation — reference scripts/validate_pipeline_inputs.py
# ---------------------------------------------------------------------------
# The engine's bar store is the per-key event series (one "checkpoint
# parquet" per key). Checks carried: V2 coverage (>=90-row lookback+horizon
# floor `:115`, degenerate-price std/mean < 0.001 detection `:295-307`,
# coverage window), V5 duplicate stores (keys whose first close collides at
# 4dp — the synthetic-duplicate fingerprint `:616-700`), V6 edge cases
# (trivially small stores; stale stores whose last bar lags the global max
# by >30 days).
_PIV_MIN_ROWS = 90
_PIV_DEGEN = 0.001
_PIV_STALE_DAYS = 30

_PIV_SQL = f"""
    WITH s AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    per AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MIN(CAST(ts AS DATE)) AS VARCHAR) AS start_d,
             CAST(MAX(CAST(ts AS DATE)) AS VARCHAR) AS end_d,
             MAX(CAST(ts AS DATE)) AS end_raw,
             ROUND(MAX(CASE WHEN rn = 1 THEN value END), 4) AS close0,
             STDDEV_POP(value) / (AVG(value) + 1e-10) AS pct_std
      FROM s GROUP BY user_id
    ),
    gmax AS (SELECT MAX(end_raw) AS g FROM per),
    v2 AS (
      SELECT 'V2.coverage' AS check_id,
             CAST(user_id AS VARCHAR) AS key,
             CASE WHEN n_rows < {_PIV_MIN_ROWS} THEN 'FAIL'
                  WHEN n_rows > 10 AND pct_std < {_PIV_DEGEN} THEN 'FAIL'
                  ELSE 'PASS' END AS status,
             CASE WHEN n_rows < {_PIV_MIN_ROWS} THEN 'too_short'
                  WHEN n_rows > 10 AND pct_std < {_PIV_DEGEN}
                    THEN 'degenerate_prices'
                  ELSE 'ok' END AS reason,
             n_rows, start_d, end_d,
             ROUND(pct_std, 6) AS metric
      FROM per
    ),
    coll AS (
      SELECT close0, CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM per GROUP BY close0 HAVING COUNT(*) >= 2
    ),
    v5 AS (
      SELECT 'V5.duplicates' AS check_id,
             CAST(p.user_id AS VARCHAR) AS key,
             'FAIL' AS status, 'identical_first_close' AS reason,
             c.n_keys AS n_rows,
             CAST(NULL AS VARCHAR) AS start_d,
             CAST(NULL AS VARCHAR) AS end_d,
             p.close0 AS metric
      FROM per p JOIN coll c ON c.close0 = p.close0
    ),
    v6 AS (
      SELECT 'V6.edge' AS check_id, CAST(p.user_id AS VARCHAR) AS key,
             CASE WHEN p.n_rows < 2 THEN 'FAIL'
                  WHEN p.end_raw < g.g - {_PIV_STALE_DAYS}
                    THEN 'WARN' ELSE 'PASS' END AS status,
             CASE WHEN p.n_rows < 2 THEN 'empty_store'
                  WHEN p.end_raw < g.g - {_PIV_STALE_DAYS}
                    THEN 'stale_store' ELSE 'ok' END AS reason,
             p.n_rows, p.start_d, p.end_d,
             CAST(g.g - p.end_raw AS DOUBLE) AS metric
      FROM per p CROSS JOIN gmax g
    )
    SELECT * FROM v2 UNION ALL SELECT * FROM v5
    UNION ALL SELECT * FROM v6
"""


@query("pipeline_input_validation", oracle=_PIV_SQL)
def pipeline_input_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline input validation report — reference
    `scripts/validate_pipeline_inputs.py`: the V2 per-store coverage
    check (90-row lookback+horizon floor `:115,275-281`; nearly-constant
    close detection std/mean < 0.001 flags degenerate/synthetic data
    `:295-307`; coverage window + first close in the PASS payload), the
    V5 duplicate-store check (stores resolving to identical first
    closes at 4dp — the synthetic collision fingerprint, `:616-700`)
    and the V6 edge cases (empty stores; stale stores lagging the
    fleet's newest bar by >30 days, `:711-830`).

    Scale: one per-key aggregate; the collision check is a groupBy on
    the 4dp first-close fingerprint; the global max is a broadcast
    scalar."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        "value",
        F.row_number().over(w).alias("rn"),
    )
    per = s.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("d").cast("string").alias("start_d"),
        F.max("d").cast("string").alias("end_d"),
        F.max("d").alias("end_raw"),
        F.round(
            F.max(F.when(F.col("rn") == 1, F.col("value"))), 4
        ).alias("close0"),
        (F.stddev_pop("value") / (F.avg("value") + 1e-10)).alias(
            "pct_std"
        ),
    ).localCheckpoint()
    key = F.col("user_id").cast("string").alias("key")
    v2 = per.select(
        F.lit("V2.coverage").alias("check_id"),
        key,
        F.when(F.col("n_rows") < _PIV_MIN_ROWS, "FAIL")
        .when(
            (F.col("n_rows") > 10) & (F.col("pct_std") < _PIV_DEGEN),
            "FAIL",
        )
        .otherwise("PASS")
        .alias("status"),
        F.when(F.col("n_rows") < _PIV_MIN_ROWS, "too_short")
        .when(
            (F.col("n_rows") > 10) & (F.col("pct_std") < _PIV_DEGEN),
            "degenerate_prices",
        )
        .otherwise("ok")
        .alias("reason"),
        "n_rows",
        "start_d",
        "end_d",
        F.round("pct_std", 6).alias("metric"),
    )
    coll = (
        per.groupBy("close0")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .filter(F.col("n_keys") >= 2)
    )
    v5 = per.join(coll, "close0").select(
        F.lit("V5.duplicates").alias("check_id"),
        key,
        F.lit("FAIL").alias("status"),
        F.lit("identical_first_close").alias("reason"),
        F.col("n_keys").alias("n_rows"),
        F.lit(None).cast("string").alias("start_d"),
        F.lit(None).cast("string").alias("end_d"),
        F.col("close0").alias("metric"),
    )
    gmax = per.agg(F.max("end_raw").alias("g"))
    v6 = per.crossJoin(F.broadcast(gmax)).select(
        F.lit("V6.edge").alias("check_id"),
        key,
        F.when(F.col("n_rows") < 2, "FAIL")
        .when(
            F.col("end_raw") < F.date_sub(F.col("g"), _PIV_STALE_DAYS),
            "WARN",
        )
        .otherwise("PASS")
        .alias("status"),
        F.when(F.col("n_rows") < 2, "empty_store")
        .when(
            F.col("end_raw") < F.date_sub(F.col("g"), _PIV_STALE_DAYS),
            "stale_store",
        )
        .otherwise("ok")
        .alias("reason"),
        "n_rows",
        "start_d",
        "end_d",
        F.datediff(F.col("g"), F.col("end_raw"))
        .cast("double")
        .alias("metric"),
    )
    return v2.unionByName(v5).unionByName(v6)


# ---------------------------------------------------------------------------
# Error monitor — reference scripts/error_monitor.py
# ---------------------------------------------------------------------------
# The error stream is the deterministic planted channel over events: every
# 50th event_id is an error line; its type cycles
# TypeError / ValueError / ConnectionError / Other on event_id % 4.
# "now" = the stream's newest timestamp. Thresholds are the reference
# defaults (`:36-41`): >5 errors/hour, >20 errors/24h, any critical type
# (TypeError/ValueError/ConnectionError) in the 24h window.
_EMR_HOUR_MAX = 5
_EMR_DAY_MAX = 20
_EMR_REPORT_DAYS = 7

_EMR_SQL = f"""
    WITH errs AS (
      SELECT ts,
             CASE WHEN event_id % 4 = 0 THEN 'TypeError'
                  WHEN event_id % 4 = 1 THEN 'ValueError'
                  WHEN event_id % 4 = 2 THEN 'ConnectionError'
                  ELSE 'Other' END AS err_type
      FROM events WHERE event_id % 50 = 0
    ),
    now_ AS (SELECT MAX(ts) AS now FROM errs),
    recent AS (
      SELECT e.*, n.now FROM errs e CROSS JOIN now_ n
      WHERE e.ts >= n.now - INTERVAL 24 HOUR
    ),
    census AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_errors,
             CAST(SUM(CASE WHEN ts >= now - INTERVAL 1 HOUR
                      THEN 1 ELSE 0 END) AS BIGINT) AS errors_last_hour,
             CAST(SUM(CASE WHEN err_type = 'TypeError'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_type,
             CAST(SUM(CASE WHEN err_type = 'ValueError'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_value,
             CAST(SUM(CASE WHEN err_type = 'ConnectionError'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_conn,
             CAST(SUM(CASE WHEN err_type = 'Other'
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_other
      FROM recent
    ),
    summary AS (
      SELECT 'summary' AS section, 'last_24h' AS key,
             total_errors AS n,
             CAST(errors_last_hour AS DOUBLE) AS metric,
             CASE WHEN errors_last_hour > {_EMR_HOUR_MAX}
                    OR total_errors > {_EMR_DAY_MAX}
                    OR n_type > 0 OR n_value > 0 OR n_conn > 0
                  THEN 'ALERT' ELSE 'OK' END AS verdict
      FROM census
      UNION ALL
      SELECT 'category', 'TypeError', n_type, NULL,
             CASE WHEN n_type > 0 THEN 'CRITICAL' END FROM census
      UNION ALL
      SELECT 'category', 'ValueError', n_value, NULL,
             CASE WHEN n_value > 0 THEN 'CRITICAL' END FROM census
      UNION ALL
      SELECT 'category', 'ConnectionError', n_conn, NULL,
             CASE WHEN n_conn > 0 THEN 'CRITICAL' END FROM census
      UNION ALL
      SELECT 'category', 'Other', n_other, NULL, NULL FROM census
    ),
    weekly AS (
      SELECT e.ts, e.err_type FROM errs e CROSS JOIN now_ n
      WHERE e.ts >= n.now - INTERVAL {_EMR_REPORT_DAYS} DAY
    ),
    by_day AS (
      SELECT 'errors_by_day' AS section,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS key,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(NULL AS DOUBLE) AS metric,
             CAST(NULL AS VARCHAR) AS verdict
      FROM weekly GROUP BY CAST(ts AS DATE)
    ),
    report AS (
      SELECT 'report' AS section, 'week' AS key,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(COUNT(*) AS DOUBLE)
                   / GREATEST(COUNT(DISTINCT CAST(ts AS DATE)), 1), 6)
               AS metric,
             (SELECT err_type FROM weekly GROUP BY err_type
              ORDER BY COUNT(*) DESC, err_type LIMIT 1) AS verdict
      FROM weekly
    )
    SELECT * FROM summary UNION ALL SELECT * FROM by_day
    UNION ALL SELECT * FROM report
"""


@query("error_monitor_report", oracle=_EMR_SQL)
def error_monitor_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-monitor status — reference `scripts/error_monitor.py`:
    the 24h/1h error censuses with type categorisation
    (`_analyze_recent_errors:111-165`), the alert fold — hourly >5,
    daily >20, or any critical TypeError/ValueError/ConnectionError
    (`_check_error_thresholds:167-186` with the `:36-41` defaults) —
    and the 7-day report: per-day counts, average errors/day over
    active days, most-common type (`generate_error_report:469-516`).
    "now" anchors to the stream's newest timestamp.

    Scale: the error channel is a filtered two-column scan (`event_id`,
    `ts`) read TWICE: once for "now", then once more, cut to the 7-day
    window, into a bounded (<= 8 days) per-day fold that carries the
    week, 24h and 1h counts per type. The windows end at the newest
    error's microsecond timestamp, so no bounded fold can give their
    exact counts before "now" is known. One census over the day rows
    gives every output row, the per-day ones from the census's
    day list. No checkpoint, no collect, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    errs = ev.filter(F.col("event_id") % 50 == 0).select(
        "ts",
        F.when(F.col("event_id") % 4 == 0, "TypeError")
        .when(F.col("event_id") % 4 == 1, "ValueError")
        .when(F.col("event_id") % 4 == 2, "ConnectionError")
        .otherwise("Other")
        .alias("err_type"),
    )
    now = errs.agg(F.max("ts").alias("now"))
    types = [
        ("TypeError", "n_type"),
        ("ValueError", "n_value"),
        ("ConnectionError", "n_conn"),
        ("Other", "n_other"),
    ]
    # the 24h and 1h windows lie inside the 7-day one
    h24 = "ts >= now - INTERVAL 24 HOUR"
    days = (
        errs.crossJoin(F.broadcast(now))
        .filter(f"ts >= now - INTERVAL {_EMR_REPORT_DAYS} DAY")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.expr("count(1) AS n"),
            F.expr(f"count(CASE WHEN {h24} THEN 1 END) AS n24"),
            F.expr("count(CASE WHEN ts >= now - INTERVAL 1 HOUR THEN 1 END) AS n1"),
            *(
                F.expr(f"count(CASE WHEN err_type = '{t}' AND {h24} THEN 1 END) AS {a}")
                for t, a in types
            ),
            *(
                F.expr(f"count(CASE WHEN err_type = '{t}' THEN 1 END) AS w_{a}")
                for t, a in types
            ),
        )
    )
    # the most common type of the week, ties to the first name: the
    # least (-count, name) over the four types err_type can take
    top = ", ".join(
        f"named_struct('c', -sum(w_{a}), 't', '{t}')" for t, a in types
    )
    # the per-type and 1h sums are NULL only when the window is empty,
    # as a fold over no error rows gives; the totals count, so they are 0
    census = days.agg(
        F.expr("coalesce(sum(n24), 0) AS total_errors"),
        F.expr("sum(n1) AS errors_last_hour"),
        *(F.expr(f"sum({a}) AS {a}") for _, a in types),
        F.expr("coalesce(sum(n), 0) AS n_week"),
        F.expr("count(1) AS n_days"),
        F.expr(f"least({top}).t AS most_common"),
        F.expr("collect_list(struct(d, n)) AS by_day"),
    )

    def row(section, key, n, metric, verdict):
        return (
            f"named_struct('section', {section}, 'key', {key}, 'n', {n},"
            f" 'metric', CAST({metric} AS DOUBLE),"
            f" 'verdict', CAST({verdict} AS STRING))"
        )

    alert = (
        f"errors_last_hour > {_EMR_HOUR_MAX} OR total_errors > {_EMR_DAY_MAX}"
        " OR n_type > 0 OR n_value > 0 OR n_conn > 0"
    )
    rows = (
        [
            row(
                "'summary'", "'last_24h'", "total_errors", "errors_last_hour",
                f"CASE WHEN {alert} THEN 'ALERT' ELSE 'OK' END",
            )
        ]
        + [
            row(
                "'category'", f"'{t}'", a, "NULL",
                "NULL" if t == "Other" else f"CASE WHEN {a} > 0 THEN 'CRITICAL' END",
            )
            for t, a in types
        ]
        + [
            row(
                "'report'", "'week'", "n_week",
                "round(CAST(n_week AS DOUBLE)"
                " / greatest(n_days, CAST(1 AS BIGINT)), 6)",
                "most_common",
            )
        ]
    )
    per_day = row("'errors_by_day'", "CAST(x.d AS STRING)", "x.n", "NULL", "NULL")
    # an empty week has no most common type, so no report row
    return census.selectExpr(
        f"inline(concat(array({', '.join(rows)}), transform(by_day, x -> {per_day})))"
    ).filter("section <> 'report' OR n > 0")


# ---------------------------------------------------------------------------
# NAV reallocation application — reference scripts/apply_nav_reallocation.py
# ---------------------------------------------------------------------------
# Constraints `:52-69`: safe>=0.75 NAV, core<=0.20, spec<=0.10; evidence
# thresholds min_coverage 0.30, max_missing 0.50, max_imputed 0.30,
# max_padding 0.20. Current sleeves by ticker bucket (0-4 safe, 5-14 core,
# 15-24 speculative); moves from the R70 promotion ladder (spec->core on
# WR>=0.55 & PF>=1.2, core->spec on WR<0.45 or PF<0.9, 10-trade floor).
# Evidence metrics are deterministic md5-uniform channels per ticker;
# oos_source_kind ladder: u<0.2 HEURISTIC_UNGROUNDED (blocks), <0.5
# HEURISTIC_ALLOWED, <0.9 GENUINE_OOS, else UNKNOWN; provenance untrusted
# when bucket%11=0, synthetic data_source when bucket%7=0. Demotions record
# the gate but are NOT gate-blocked (reference `:229-248` checks
# membership only).
_NRA_MIN_COV = 0.30
_NRA_MAX_MISS = 0.50
_NRA_MAX_IMP = 0.30
_NRA_MAX_PAD = 0.20

_NRA_U = (
    "('0x' || SUBSTR(MD5('{ch}|' || ticker), 1, 6))::BIGINT / 16777216.0"
)

_NRA_SQL = f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet
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
      SELECT o.o_custkey % 25 AS bucket,
             'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             c.cnet - o2.onet AS pnl
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    perf AS (
      SELECT bucket, ticker, CAST(COUNT(*) AS BIGINT) AS n,
             AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END) AS wr,
             CASE WHEN SUM(CASE WHEN pnl < 0 THEN ABS(pnl) ELSE 0 END) > 0
                  THEN SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END)
                       / SUM(CASE WHEN pnl < 0 THEN ABS(pnl) ELSE 0 END)
                  ELSE 99.0 END AS pf
      FROM trades GROUP BY bucket, ticker
    ),
    gated AS (
      SELECT *,
             CASE WHEN bucket <= 4 THEN 'safe'
                  WHEN bucket <= 14 THEN 'core'
                  ELSE 'speculative' END AS sleeve,
             {_NRA_U.format(ch='cov')} * 0.8 + 0.2 AS coverage,
             {_NRA_U.format(ch='miss')} * 0.8 AS missing_frac,
             {_NRA_U.format(ch='imp')} * 0.5 AS imputed_frac,
             {_NRA_U.format(ch='pad')} * 0.35 AS padding_frac,
             {_NRA_U.format(ch='src')} AS u_src
      FROM perf
    ),
    moves AS (
      SELECT *,
             CASE WHEN sleeve = 'speculative' AND n >= 10
                       AND wr >= 0.55 AND pf >= 1.2 THEN 'promotion'
                  WHEN sleeve = 'core' AND n >= 10
                       AND (wr < 0.45 OR pf < 0.9) THEN 'demotion'
             END AS move_type,
             CASE WHEN u_src < 0.2 THEN 'HEURISTIC_UNGROUNDED'
                  WHEN u_src < 0.5 THEN 'HEURISTIC_ALLOWED'
                  WHEN u_src < 0.9 THEN 'GENUINE_OOS'
                  ELSE 'UNKNOWN' END AS evidence_class,
             CONCAT_WS(',',
               CASE WHEN coverage < {_NRA_MIN_COV}
                    THEN 'OOS_COVERAGE_THIN' END,
               CASE WHEN missing_frac > {_NRA_MAX_MISS}
                    THEN 'OOS_MISSING_METRICS' END,
               CASE WHEN imputed_frac > {_NRA_MAX_IMP}
                         OR padding_frac > {_NRA_MAX_PAD}
                    THEN 'PREPROCESS_DISTORTION' END,
               CASE WHEN u_src < 0.2 THEN 'HEURISTIC_FALLBACK' END,
               CASE WHEN bucket % 11 = 0 OR bucket % 7 = 0
                    THEN 'PROVENANCE_UNTRUSTED' END) AS blocking
      FROM gated
    ),
    decided AS (
      SELECT ticker, sleeve, move_type, evidence_class, blocking,
             ROUND(wr, 6) AS win_rate, ROUND(LEAST(pf, 99.0), 6)
               AS profit_factor, n,
             CASE
               WHEN move_type = 'promotion' AND blocking <> ''
                 THEN 'SKIPPED'
               WHEN move_type IS NOT NULL THEN 'APPLIED'
             END AS outcome
      FROM moves
    ),
    move_rows AS (
      SELECT 'move' AS section, ticker AS key, move_type, evidence_class,
             CASE WHEN outcome = 'SKIPPED' THEN blocking END
               AS skip_reason,
             outcome, n, win_rate, profit_factor
      FROM decided WHERE move_type IS NOT NULL
    ),
    final_sleeve AS (
      SELECT ticker,
             CASE
               WHEN move_type = 'promotion' AND outcome = 'APPLIED'
                 THEN 'core'
               WHEN move_type = 'demotion' AND outcome = 'APPLIED'
                 THEN 'speculative'
               ELSE sleeve END AS sleeve_after
      FROM decided
    ),
    sleeve_rows AS (
      SELECT 'sleeve' AS section, sleeve_after AS key,
             CAST(NULL AS VARCHAR) AS move_type,
             CAST(NULL AS VARCHAR) AS evidence_class,
             CAST(NULL AS VARCHAR) AS skip_reason,
             CAST(NULL AS VARCHAR) AS outcome,
             CAST(COUNT(*) AS BIGINT) AS n,
             CASE WHEN sleeve_after = 'safe' THEN 0.75
                  WHEN sleeve_after = 'core' THEN 0.20
                  ELSE 0.10 END AS win_rate,
             CAST(NULL AS DOUBLE) AS profit_factor
      FROM final_sleeve GROUP BY sleeve_after
    ),
    summary AS (
      SELECT 'summary', 'apply',
             NULL, NULL, NULL,
             CAST(SUM(CASE WHEN outcome = 'APPLIED'
                      THEN 1 ELSE 0 END) AS VARCHAR)
               || ' applied, '
               || CAST(SUM(CASE WHEN outcome = 'SKIPPED'
                           THEN 1 ELSE 0 END) AS VARCHAR) || ' skipped',
             CAST(COUNT(*) AS BIGINT), NULL, NULL
      FROM decided WHERE move_type IS NOT NULL
    )
    SELECT * FROM move_rows UNION ALL SELECT * FROM sleeve_rows
    UNION ALL SELECT * FROM summary
"""


@query("nav_reallocation_application", oracle=_NRA_SQL)
def nav_reallocation_application(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAV reallocation application — reference
    `scripts/apply_nav_reallocation.py`: the per-ticker evidence-health
    gate (`_check_evidence_gate:89-152`: OOS coverage vs 0.30,
    missing-metrics vs 0.50, imputed/padding distortion vs 0.30/0.20,
    the heuristic-classification ladder where HEURISTIC_UNGROUNDED
    blocks, and the provenance-untrusted rule) and the barbell
    promotion/demotion application (`apply_reallocation:157-288`):
    promotions speculative→core are gate-blocked and skipped with
    reasons; demotions core→speculative record the gate but apply on
    membership alone (`:229-248`); the artifact carries the final
    sleeve memberships with the 0.75/0.20/0.10 weight constraints and
    the applied/skipped summary.

    Scale: one ticker-grain aggregate over the closed-trade frame; the
    gate channels are hash columns; sleeve rollups are bounded."""
    trades = (
        _closed_trades(spark, sf_dir)
        .select(
            (F.col("o_custkey") % 25).alias("bucket"),
            F.concat(
                F.lit("T"), (F.col("o_custkey") % 25).cast("string")
            ).alias("ticker"),
            (F.col("cnet") - F.col("onet")).alias("pnl"),
        )
    )
    gross_loss = F.sum(F.when(F.col("pnl") < 0, F.abs(F.col("pnl"))).otherwise(0.0))
    gross_win = F.sum(F.when(F.col("pnl") > 0, F.col("pnl")).otherwise(0.0))
    perf = trades.groupBy("bucket", "ticker").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)).alias("wr"),
        F.when(gross_loss > 0, gross_win / gross_loss)
        .otherwise(F.lit(99.0))
        .alias("pf"),
    )

    def u(ch):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{ch}|"), F.col("ticker"))), 1, 6
                ),
                16,
                10,
            ).cast("long")
            / 16777216.0
        )

    gated = perf.select(
        "*",
        F.when(F.col("bucket") <= 4, "safe")
        .when(F.col("bucket") <= 14, "core")
        .otherwise("speculative")
        .alias("sleeve"),
        (u("cov") * 0.8 + 0.2).alias("coverage"),
        (u("miss") * 0.8).alias("missing_frac"),
        (u("imp") * 0.5).alias("imputed_frac"),
        (u("pad") * 0.35).alias("padding_frac"),
        u("src").alias("u_src"),
    )
    moves = gated.select(
        "*",
        F.when(
            (F.col("sleeve") == "speculative")
            & (F.col("n") >= 10)
            & (F.col("wr") >= 0.55)
            & (F.col("pf") >= 1.2),
            "promotion",
        )
        .when(
            (F.col("sleeve") == "core")
            & (F.col("n") >= 10)
            & ((F.col("wr") < 0.45) | (F.col("pf") < 0.9)),
            "demotion",
        )
        .alias("move_type"),
        F.when(F.col("u_src") < 0.2, "HEURISTIC_UNGROUNDED")
        .when(F.col("u_src") < 0.5, "HEURISTIC_ALLOWED")
        .when(F.col("u_src") < 0.9, "GENUINE_OOS")
        .otherwise("UNKNOWN")
        .alias("evidence_class"),
        F.concat_ws(
            ",",
            F.when(F.col("coverage") < _NRA_MIN_COV, "OOS_COVERAGE_THIN"),
            F.when(
                F.col("missing_frac") > _NRA_MAX_MISS,
                "OOS_MISSING_METRICS",
            ),
            F.when(
                (F.col("imputed_frac") > _NRA_MAX_IMP)
                | (F.col("padding_frac") > _NRA_MAX_PAD),
                "PREPROCESS_DISTORTION",
            ),
            F.when(F.col("u_src") < 0.2, "HEURISTIC_FALLBACK"),
            F.when(
                (F.col("bucket") % 11 == 0) | (F.col("bucket") % 7 == 0),
                "PROVENANCE_UNTRUSTED",
            ),
        ).alias("blocking"),
    )
    decided = moves.select(
        "ticker",
        "sleeve",
        "move_type",
        "evidence_class",
        "blocking",
        r6(F.col("wr")).alias("win_rate"),
        r6(F.least(F.col("pf"), F.lit(99.0))).alias("profit_factor"),
        "n",
        F.when(
            (F.col("move_type") == "promotion") & (F.col("blocking") != ""),
            "SKIPPED",
        )
        .when(F.col("move_type").isNotNull(), "APPLIED")
        .alias("outcome"),
    ).localCheckpoint()
    move_rows = decided.filter(F.col("move_type").isNotNull()).select(
        F.lit("move").alias("section"),
        F.col("ticker").alias("key"),
        "move_type",
        "evidence_class",
        F.when(F.col("outcome") == "SKIPPED", F.col("blocking")).alias(
            "skip_reason"
        ),
        "outcome",
        "n",
        "win_rate",
        "profit_factor",
    )
    sleeve_after = (
        F.when(
            (F.col("move_type") == "promotion")
            & (F.col("outcome") == "APPLIED"),
            "core",
        )
        .when(
            (F.col("move_type") == "demotion")
            & (F.col("outcome") == "APPLIED"),
            "speculative",
        )
        .otherwise(F.col("sleeve"))
    )
    sleeve_rows = (
        decided.select(sleeve_after.alias("sleeve_after"))
        .groupBy("sleeve_after")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.lit("sleeve").alias("section"),
            F.col("sleeve_after").alias("key"),
            F.lit(None).cast("string").alias("move_type"),
            F.lit(None).cast("string").alias("evidence_class"),
            F.lit(None).cast("string").alias("skip_reason"),
            F.lit(None).cast("string").alias("outcome"),
            "n",
            F.when(F.col("sleeve_after") == "safe", 0.75)
            .when(F.col("sleeve_after") == "core", 0.20)
            .otherwise(0.10)
            .alias("win_rate"),
            F.lit(None).cast("double").alias("profit_factor"),
        )
    )
    summary = decided.filter(F.col("move_type").isNotNull()).agg(
        F.sum(F.when(F.col("outcome") == "APPLIED", 1).otherwise(0)).alias(
            "na"
        ),
        F.sum(F.when(F.col("outcome") == "SKIPPED", 1).otherwise(0)).alias(
            "ns"
        ),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).select(
        F.lit("summary").alias("section"),
        F.lit("apply").alias("key"),
        F.lit(None).cast("string").alias("move_type"),
        F.lit(None).cast("string").alias("evidence_class"),
        F.lit(None).cast("string").alias("skip_reason"),
        F.concat(
            F.col("na").cast("string"),
            F.lit(" applied, "),
            F.col("ns").cast("string"),
            F.lit(" skipped"),
        ).alias("outcome"),
        "n",
        F.lit(None).cast("double").alias("win_rate"),
        F.lit(None).cast("double").alias("profit_factor"),
    )
    return move_rows.unionByName(sleeve_rows).unionByName(summary)


# ---------------------------------------------------------------------------
# CHECK-constraint migration validation —
# reference scripts/migrate_add_check_constraints.py
# ---------------------------------------------------------------------------
# Spark tables carry no CHECK constraints (SURVEY §1.2), so the migration's
# validation pass IS the engine's enforcement surface. Ledger channels:
# opening leg carries a spurious realized_pnl when orderkey%41=0; closes
# lack their entry link when orderkey%5=0 (the unlinked population);
# is_diagnostic when orderkey%43=0; execution_mode is 'synthetic' when
# orderkey%4=0 EXCEPT orderkey%52=0 rows mislabeled 'live' (plants the
# synthetic-in-live violation); everything else runs 'live'.
_CCV_SQL = """
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    legs AS (
      SELECT l.l_orderkey AS orderkey, l.l_linenumber AS ln,
             (l.l_linenumber = m.maxline AND m.maxline > 1) AS is_close,
             (l.l_orderkey % 41 = 0) AS opening_pnl_planted,
             (l.l_orderkey % 5 = 0) AS unlinked,
             (l.l_orderkey % 43 = 0) AS is_diagnostic,
             (l.l_orderkey % 4 = 0) AS is_synthetic,
             CASE WHEN l.l_orderkey % 4 = 0
                       AND l.l_orderkey % 52 <> 0
                  THEN 'synthetic' ELSE 'live' END AS execution_mode
      FROM lineitem l
      JOIN mx m ON m.l_orderkey = l.l_orderkey
      GROUP BY l.l_orderkey, l.l_linenumber, m.maxline
    ),
    v AS (
      SELECT
        CAST(SUM(CASE WHEN NOT is_close AND opening_pnl_planted
                 THEN 1 ELSE 0 END) AS BIGINT) AS opening_has_pnl,
        CAST(SUM(CASE WHEN is_close AND unlinked
                 THEN 1 ELSE 0 END) AS BIGINT) AS closing_no_entry,
        CAST(SUM(CASE WHEN is_diagnostic AND execution_mode = 'live'
                 THEN 1 ELSE 0 END) AS BIGINT) AS diagnostic_in_live,
        CAST(SUM(CASE WHEN is_synthetic AND execution_mode = 'live'
                 THEN 1 ELSE 0 END) AS BIGINT) AS synthetic_in_live
      FROM legs
    ),
    rows_ AS (
      SELECT 'opening_has_pnl' AS constraint_name, opening_has_pnl AS n,
             'BLOCKING' AS severity FROM v
      UNION ALL
      SELECT 'closing_no_entry', closing_no_entry, 'WARNING' FROM v
      UNION ALL
      SELECT 'diagnostic_in_live', diagnostic_in_live, 'BLOCKING' FROM v
      UNION ALL
      SELECT 'synthetic_in_live', synthetic_in_live, 'BLOCKING' FROM v
    )
    SELECT * FROM rows_
    UNION ALL
    SELECT 'migration_ready',
           CASE WHEN opening_has_pnl = 0 AND diagnostic_in_live = 0
                     AND synthetic_in_live = 0 THEN 1 ELSE 0 END,
           CASE WHEN opening_has_pnl = 0 AND diagnostic_in_live = 0
                     AND synthetic_in_live = 0
                THEN 'READY' ELSE 'BLOCKED' END
    FROM v
"""


@query("check_constraint_validation", oracle=_CCV_SQL)
def check_constraint_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint migration validation — reference
    `scripts/migrate_add_check_constraints.py:62-96`
    (`validate_existing_data`): the four ledger-integrity constraints —
    opening legs must carry no realized PnL, closing legs must link an
    entry (warning-grade, backfill may lag), diagnostic and synthetic
    trades must never run in live mode (`:98-173` CHECK clauses) — plus
    the migration-ready fold (blocking constraints must be clean before
    the rename-copy-drop rebuild, `:18-22`). Spark has no table CHECK
    constraints, so this census IS the enforcement surface (SURVEY
    §1.2).

    Scale: one leg-grain scan with a single global fold."""
    li = load_table(spark, sf_dir, "lineitem")
    mx = li.groupBy("l_orderkey").agg(F.max("l_linenumber").alias("maxline"))
    ok = F.col("l_orderkey")
    legs = (
        li.join(mx, "l_orderkey")
        .groupBy("l_orderkey", "l_linenumber")
        .agg(F.any_value("maxline").alias("maxline"))
        .select(
            (
                (F.col("l_linenumber") == F.col("maxline"))
                & (F.col("maxline") > 1)
            ).alias("is_close"),
            (ok % 41 == 0).alias("opening_pnl_planted"),
            (ok % 5 == 0).alias("unlinked"),
            (ok % 43 == 0).alias("is_diagnostic"),
            (ok % 4 == 0).alias("is_synthetic"),
            F.when(
                (ok % 4 == 0) & (ok % 52 != 0), "synthetic"
            )
            .otherwise("live")
            .alias("execution_mode"),
        )
    )
    cnt = lambda cond: F.coalesce(  # noqa: E731
        F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    v = legs.agg(
        cnt(~F.col("is_close") & F.col("opening_pnl_planted")).alias(
            "opening_has_pnl"
        ),
        cnt(F.col("is_close") & F.col("unlinked")).alias(
            "closing_no_entry"
        ),
        cnt(
            F.col("is_diagnostic") & (F.col("execution_mode") == "live")
        ).alias("diagnostic_in_live"),
        cnt(
            F.col("is_synthetic") & (F.col("execution_mode") == "live")
        ).alias("synthetic_in_live"),
    ).localCheckpoint()
    out = None
    for name, sev in [
        ("opening_has_pnl", "BLOCKING"),
        ("closing_no_entry", "WARNING"),
        ("diagnostic_in_live", "BLOCKING"),
        ("synthetic_in_live", "BLOCKING"),
    ]:
        row = v.select(
            F.lit(name).alias("constraint_name"),
            F.col(name).alias("n"),
            F.lit(sev).alias("severity"),
        )
        out = row if out is None else out.unionByName(row)
    ready = (
        (F.col("opening_has_pnl") == 0)
        & (F.col("diagnostic_in_live") == 0)
        & (F.col("synthetic_in_live") == 0)
    )
    return out.unionByName(
        v.select(
            F.lit("migration_ready").alias("constraint_name"),
            F.when(ready, 1).otherwise(0).cast("long").alias("n"),
            F.when(ready, "READY").otherwise("BLOCKED").alias("severity"),
        )
    )


# ---------------------------------------------------------------------------
# LLM signal backtest — reference scripts/backtest_llm_signals.py
# ---------------------------------------------------------------------------
# The portfolio recursion (confidence-sized integer share buys/sells over
# the signal sequence, `execute_signal:91-120`) is irreducibly sequential
# per key: the Spark side runs it as an Arrow-batched applyInPandas kernel
# (sequential within a key, parallel across keys); the oracle re-derives
# the SAME states independently with a recursive CTE, then both sides
# compute the per-bar equity curve and metrics declaratively. Signal
# channels: click events, action u<0.4 BUY / u<0.7 SELL / else HOLD,
# confidence = 0.5 + u2/2. Initial capital 100k (`:51`). win_rate counts
# SELL executions over executed trades — the reference's own quirk
# (`:214-217`). The reference feeds raw VALUES into its returns-shaped
# max-drawdown helper (`:212`), degenerating it; the engine computes the
# equity-curve drawdown the call intends.
_LLB_CAPITAL = 100_000.0
_LLB_RATE = 0.02


def _llb_states(pdf):
    """Per-key sequential portfolio fold over the signal sequence."""
    import pandas as pd

    pdf = pdf.sort_values("rn")
    pos, cap = 0, _LLB_CAPITAL
    rows = []
    for r in pdf.itertuples():
        executed = 0
        if r.action == "BUY" and cap >= r.price:
            shares = int((cap * r.conf * 0.95) / r.price)
            if shares > 0:
                pos += shares
                cap -= shares * r.price
                executed = 1
        elif r.action == "SELL" and pos > 0:
            sell = int(pos * r.conf)
            if sell > 0:
                pos -= sell
                cap += sell * r.price
                executed = 1
        rows.append(
            (r.user_id, int(r.rn), float(cap), int(pos), executed, r.action)
        )
    return pd.DataFrame(
        rows, columns=["user_id", "rn", "cap", "pos", "executed", "action"]
    )


_LLB_SQL = f"""
    WITH RECURSIVE s AS (
      SELECT user_id, ts, event_id, value AS price, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    sig0 AS (
      SELECT user_id, rn, price,
             ('0x' || SUBSTR(MD5('act|' || CAST(event_id AS VARCHAR)),
                             1, 6))::BIGINT / 16777216.0 AS u1,
             ('0x' || SUBSTR(MD5('cnf|' || CAST(event_id AS VARCHAR)),
                             1, 6))::BIGINT / 16777216.0 AS u2
      FROM s WHERE event_type = 'click'
    ),
    sig AS (
      SELECT user_id, rn, price,
             CASE WHEN u1 < 0.4 THEN 'BUY'
                  WHEN u1 < 0.7 THEN 'SELL' ELSE 'HOLD' END AS action,
             0.5 + u2 / 2.0 AS conf,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn)
               AS sidx
      FROM sig0
    ),
    rec AS (
      SELECT user_id, 0 AS sidx, CAST(0 AS BIGINT) AS rn,
             CAST({_LLB_CAPITAL} AS DOUBLE) AS cap,
             CAST(0 AS BIGINT) AS pos, 0 AS executed,
             CAST(NULL AS VARCHAR) AS action
      FROM (SELECT DISTINCT user_id FROM sig)
      UNION ALL
      SELECT g.user_id, g.sidx, CAST(g.rn AS BIGINT),
             CASE
               WHEN g.action = 'BUY' AND r.cap >= g.price
                    AND FLOOR(r.cap * g.conf * 0.95 / g.price) > 0
                 THEN r.cap - FLOOR(r.cap * g.conf * 0.95 / g.price)
                      * g.price
               WHEN g.action = 'SELL' AND r.pos > 0
                    AND FLOOR(r.pos * g.conf) > 0
                 THEN r.cap + FLOOR(r.pos * g.conf) * g.price
               ELSE r.cap END,
             CASE
               WHEN g.action = 'BUY' AND r.cap >= g.price
                    AND FLOOR(r.cap * g.conf * 0.95 / g.price) > 0
                 THEN r.pos + CAST(FLOOR(r.cap * g.conf * 0.95
                                         / g.price) AS BIGINT)
               WHEN g.action = 'SELL' AND r.pos > 0
                    AND FLOOR(r.pos * g.conf) > 0
                 THEN r.pos - CAST(FLOOR(r.pos * g.conf) AS BIGINT)
               ELSE r.pos END,
             CASE
               WHEN g.action = 'BUY' AND r.cap >= g.price
                    AND FLOOR(r.cap * g.conf * 0.95 / g.price) > 0
                 THEN 1
               WHEN g.action = 'SELL' AND r.pos > 0
                    AND FLOOR(r.pos * g.conf) > 0
                 THEN 1
               ELSE 0 END,
             g.action
      FROM rec r
      JOIN sig g ON g.user_id = r.user_id AND g.sidx = r.sidx + 1
    ),
    states AS (SELECT * FROM rec),
    curve0 AS (
      SELECT b.user_id, b.rn, b.price,
             MAX(st.sidx) AS last_sidx
      FROM s b
      LEFT JOIN states st ON st.user_id = b.user_id AND st.rn <= b.rn
      GROUP BY b.user_id, b.rn, b.price
    ),
    curve AS (
      SELECT c.user_id, c.rn, c.price,
             st.cap + st.pos * c.price AS value
      FROM curve0 c
      JOIN states st ON st.user_id = c.user_id
                    AND st.sidx = COALESCE(c.last_sidx, 0)
    ),
    rets AS (
      SELECT *,
             value / LAG(value) OVER (PARTITION BY user_id ORDER BY rn)
               - 1.0 AS ret,
             value / MAX(value) OVER (PARTITION BY user_id ORDER BY rn
               ROWS UNBOUNDED PRECEDING) AS rel
      FROM curve
    ),
    m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS trading_days,
             MAX(CASE WHEN rn = 1 THEN price END) AS p0,
             MAX(CASE WHEN rn = mxr THEN price END) AS p1,
             MAX(CASE WHEN rn = mxr THEN value END) AS final_value,
             STDDEV_POP(ret) AS ret_sd,
             MAX(1.0 - rel) AS max_dd
      FROM (SELECT *, MAX(rn) OVER (PARTITION BY user_id) AS mxr
            FROM rets) z
      GROUP BY user_id
    ),
    tcount AS (
      SELECT user_id,
             CAST(SUM(executed) AS BIGINT) AS total_trades,
             CAST(SUM(CASE WHEN executed = 1 AND action = 'SELL'
                      THEN 1 ELSE 0 END) AS BIGINT) AS sells
      FROM states GROUP BY user_id
    ),
    fin AS (
      SELECT m.user_id, m.trading_days, m.final_value,
             (m.final_value - {_LLB_CAPITAL}) / {_LLB_CAPITAL}
               AS total_return,
             POWER(1.0 + (m.final_value - {_LLB_CAPITAL})
                   / {_LLB_CAPITAL}, 252.0 / m.trading_days) - 1.0
               AS annual_return,
             (m.p1 - m.p0) / m.p0 AS buy_hold_return,
             m.ret_sd * SQRT(252.0) AS vol_ann,
             m.max_dd,
             COALESCE(t.total_trades, 0) AS total_trades,
             COALESCE(t.sells, 0) AS sells
      FROM m LEFT JOIN tcount t ON t.user_id = m.user_id
    )
    SELECT user_id, trading_days,
           ROUND(final_value, 4) AS final_value,
           ROUND(total_return, 6) AS total_return,
           ROUND(annual_return, 6) AS annual_return,
           ROUND(buy_hold_return, 6) AS buy_hold_return,
           ROUND(annual_return - buy_hold_return, 6) AS alpha,
           ROUND(CASE WHEN vol_ann > 1e-8
                 THEN (annual_return - {_LLB_RATE}) / vol_ann
                 ELSE 0.0 END, 6) AS sharpe_ratio,
           ROUND(max_dd, 6) AS max_drawdown,
           total_trades,
           ROUND(CASE WHEN total_trades > 0
                 THEN CAST(sells AS DOUBLE) / total_trades
                 ELSE 0.0 END, 6) AS win_rate,
           CASE WHEN annual_return > 0.10
                     AND annual_return - buy_hold_return > 0
                     AND trading_days >= 30
                THEN 1 ELSE 0 END AS passed_validation
    FROM fin
"""


@query("llm_signal_backtest", oracle=_LLB_SQL)
def llm_signal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full LLM-signal portfolio backtest — reference
    `scripts/backtest_llm_signals.py:91-268` (`execute_signal` +
    `backtest_ticker`): confidence-sized integer share execution with
    the 95% cash buffer, the per-bar equity curve, total/annualized
    returns (years = days/252), the buy-and-hold baseline and alpha,
    the annualized Sharpe vs the 0.02 risk-free rate
    (`etl/portfolio_math.py:110-121`), equity-curve max drawdown, the
    SELL-count win-rate quirk (`:214-217`), and the validation fold
    (annual>10%, alpha>0, >=30 days — `:246-268`).

    Spark-first shape: the irreducible per-key recursion runs in one
    Arrow-batched applyInPandas kernel (sequential within key, parallel
    across keys); the equity curve, returns and every metric are
    declarative window/aggregate algebra. The oracle re-derives the
    recursion itself with a recursive CTE — full value-level check, no
    staging."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("value").alias("price"),
        F.row_number().over(w).alias("rn"),
    ).localCheckpoint(eager=False)

    def u(ch):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{ch}|"), F.col("event_id").cast("string")
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            / 16777216.0
        )

    sig = s.filter(F.col("event_type") == "click").select(
        "user_id",
        "rn",
        "price",
        F.when(u("act") < 0.4, "BUY")
        .when(u("act") < 0.7, "SELL")
        .otherwise("HOLD")
        .alias("action"),
        (0.5 + u("cnf") / 2.0).alias("conf"),
    )
    states = sig.groupBy("user_id").applyInPandas(
        _llb_states,
        "user_id long, rn long, cap double, pos long, executed int,"
        " action string",
    ).localCheckpoint(eager=False)

    # carry the post-trade state forward across bars (as-of by rn)
    st = states.select(
        "user_id",
        "rn",
        F.col("cap").alias("s_cap"),
        F.col("pos").alias("s_pos"),
    )
    bars = s.select("user_id", "rn", "price")
    carried = (
        bars.join(st, ["user_id", "rn"], "left")
        .withColumn(
            "cap",
            F.coalesce(
                F.last("s_cap", ignorenulls=True).over(
                    Window.partitionBy("user_id")
                    .orderBy("rn")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(_LLB_CAPITAL),
            ),
        )
        .withColumn(
            "pos",
            F.coalesce(
                F.last("s_pos", ignorenulls=True).over(
                    Window.partitionBy("user_id")
                    .orderBy("rn")
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
                F.lit(0),
            ),
        )
        .withColumn("value", F.col("cap") + F.col("pos") * F.col("price"))
    )
    wr_ = Window.partitionBy("user_id").orderBy("rn")
    rets = carried.withColumn(
        "ret", F.col("value") / F.lag("value").over(wr_) - 1.0
    ).withColumn(
        "rel",
        F.col("value")
        / F.max("value").over(
            wr_.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("mxr", F.max("rn").over(Window.partitionBy("user_id")))
    m = rets.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("trading_days"),
        F.max(F.when(F.col("rn") == 1, F.col("price"))).alias("p0"),
        F.max(F.when(F.col("rn") == F.col("mxr"), F.col("price"))).alias(
            "p1"
        ),
        F.max(
            F.when(F.col("rn") == F.col("mxr"), F.col("value"))
        ).alias("final_value"),
        F.stddev_pop("ret").alias("ret_sd"),
        F.max(1.0 - F.col("rel")).alias("max_dd"),
    )
    tcount = states.groupBy("user_id").agg(
        F.sum("executed").cast("long").alias("total_trades"),
        F.sum(
            F.when(
                (F.col("executed") == 1) & (F.col("action") == "SELL"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("sells"),
    )
    tr = (F.col("final_value") - _LLB_CAPITAL) / _LLB_CAPITAL
    ann = F.pow(1.0 + tr, 252.0 / F.col("trading_days")) - 1.0
    bh = (F.col("p1") - F.col("p0")) / F.col("p0")
    vol_ann = F.col("ret_sd") * F.sqrt(F.lit(252.0))
    fin = m.join(tcount, "user_id", "left").select(
        "user_id",
        "trading_days",
        F.round("final_value", 4).alias("final_value"),
        r6(tr).alias("total_return"),
        r6(ann).alias("annual_return"),
        r6(bh).alias("buy_hold_return"),
        r6(ann - bh).alias("alpha"),
        r6(
            F.when(
                vol_ann > 1e-8, (ann - _LLB_RATE) / vol_ann
            ).otherwise(F.lit(0.0))
        ).alias("sharpe_ratio"),
        r6(F.col("max_dd")).alias("max_drawdown"),
        F.coalesce(F.col("total_trades"), F.lit(0).cast("long")).alias(
            "total_trades"
        ),
        r6(
            F.when(
                F.coalesce(F.col("total_trades"), F.lit(0)) > 0,
                F.coalesce(F.col("sells"), F.lit(0)).cast("double")
                / F.col("total_trades"),
            ).otherwise(F.lit(0.0))
        ).alias("win_rate"),
        F.when(
            (ann > 0.10) & (ann - bh > 0) & (F.col("trading_days") >= 30),
            1,
        )
        .otherwise(0)
        .alias("passed_validation"),
    )
    return fin


# ---------------------------------------------------------------------------
# Performance chart data — reference scripts/generate_performance_charts.py
# ---------------------------------------------------------------------------
# The two data loaders behind the dashboard charts: per-ticker WR/PF/PnL
# (PF capped at 99, the no-loss sentinel, `:49,108-123`) and the cumulative
# win-rate walk over closed trades in trade-date order (`:131-160`).
_PCD_PF_CAP = 99.0

_PCD_SQL = f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             CAST(MAX(l.l_shipdate) AS DATE) AS close_d
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
             c.l_orderkey AS orderkey, c.close_d,
             c.cnet - o2.onet AS pnl
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    per_ticker AS (
      SELECT 'per_ticker' AS section, ticker AS key,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(AVG(CASE WHEN pnl > 0 THEN 1.0 ELSE 0.0 END), 6)
               AS win_rate,
             ROUND(CASE
               WHEN SUM(CASE WHEN pnl <= 0 THEN ABS(pnl) ELSE 0 END) > 0
                 THEN LEAST(SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END)
                            / SUM(CASE WHEN pnl <= 0 THEN ABS(pnl)
                                  ELSE 0 END), {_PCD_PF_CAP})
               WHEN SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END) > 0
                 THEN {_PCD_PF_CAP} ELSE 0.0 END, 6) AS profit_factor,
             ROUND(SUM(pnl), 2) AS total_pnl
      FROM trades GROUP BY ticker
    ),
    walk AS (
      SELECT 'wr_over_time' AS section,
             CAST(close_d AS VARCHAR) || '#'
               || CAST(orderkey AS VARCHAR) AS key,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS n,
             ROUND(CAST(SUM(CASE WHEN pnl > 0 THEN 1 ELSE 0 END)
                        OVER w AS DOUBLE)
                   / ROW_NUMBER() OVER w, 6) AS win_rate,
             CAST(NULL AS DOUBLE) AS profit_factor,
             CAST(NULL AS DOUBLE) AS total_pnl
      FROM trades
      WINDOW w AS (ORDER BY close_d, orderkey
                   ROWS UNBOUNDED PRECEDING)
    )
    SELECT * FROM per_ticker UNION ALL SELECT * FROM walk
"""


@query("performance_chart_data", oracle=_PCD_SQL)
@session_frame_cache
def performance_chart_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard chart data frames — reference
    `scripts/generate_performance_charts.py`: the per-ticker WR / PF /
    total-PnL loader with the 99.0 no-loss PF sentinel
    (`_load_per_ticker:81-129`) and the cumulative win-rate walk over
    closed trades in (trade_date, id) order
    (`_load_wr_over_time:131-160`).

    Scale: one ticker groupBy plus the cumulative walk — the walk is the
    reference's single global sequence, computed here WITHOUT a
    single-partition window: one `scalable_prefix_sums` two-pass
    (range-repartition on (close_d, orderkey), local cumulative wins +
    row counts, driver-broadcast boundary offsets) yields exact integer
    running counts at any scale. The trade frame is the family-shared
    `canonical_legs_frame` materialization."""
    from ..operators.windows import scalable_prefix_sums
    from .queries_trades import canonical_legs_frame

    trades = canonical_legs_frame(spark, sf_dir).select(
        "ticker",
        "orderkey",
        F.to_date(F.col("cship")).alias("close_d"),
        (F.col("cnet") - F.col("onet")).alias("pnl"),
    )
    gw = F.sum(F.when(F.col("pnl") > 0, F.col("pnl")).otherwise(0.0))
    gl = F.sum(F.when(F.col("pnl") <= 0, F.abs(F.col("pnl"))).otherwise(0.0))
    per_ticker = trades.groupBy("ticker").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        r6(F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0))).alias(
            "win_rate"
        ),
        r6(
            F.when(gl > 0, F.least(gw / gl, F.lit(_PCD_PF_CAP)))
            .when(gw > 0, F.lit(_PCD_PF_CAP))
            .otherwise(F.lit(0.0))
        ).alias("profit_factor"),
        F.round(F.sum("pnl"), 2).alias("total_pnl"),
    ).select(
        F.lit("per_ticker").alias("section"),
        F.col("ticker").alias("key"),
        "n",
        "win_rate",
        "profit_factor",
        "total_pnl",
    )
    cum = scalable_prefix_sums(
        trades,
        ["close_d", "orderkey"],
        {
            "cum_n": F.lit(1).cast("long"),
            "cum_wins": F.when(F.col("pnl") > 0, 1)
            .otherwise(0)
            .cast("long"),
        },
    )
    walk = cum.select(
        F.lit("wr_over_time").alias("section"),
        F.concat(
            F.col("close_d").cast("string"),
            F.lit("#"),
            F.col("orderkey").cast("string"),
        ).alias("key"),
        F.col("cum_n").alias("n"),
        r6(F.col("cum_wins").cast("double") / F.col("cum_n")).alias(
            "win_rate"
        ),
        F.lit(None).cast("double").alias("profit_factor"),
        F.lit(None).cast("double").alias("total_pnl"),
    )
    return per_ticker.unionByName(walk)


# ---------------------------------------------------------------------------
# Canonical snapshot — reference scripts/emit_canonical_snapshot.py
# ---------------------------------------------------------------------------
# The snapshot's data queries: 14-day close-rate coverage (closes whose
# ts_signal_id is audit-covered — engine channel orderkey%2=0 — vs total,
# both as daily rates over the fixed 14-day divisor, `_query_close_rates:
# 299-331`), the canonical closed-PnL rollup (`_query_closed_pnl:333-365`),
# per-ticker open risk over non-synthetic open lots (`_query_open_risk:
# 383-399`) and the exit-proximity fraction |price-stop|/|target-stop| per
# open lot (`_exit_proximity_fraction:284-297`; stop/target = entry ∓ 5%/
# +10%, current = the ticker's last close). Reference date = 1998-08-01.
_CSN_AS_OF = "1998-08-01"

_CSN_SQL = f"""
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             CAST(MAX(l.l_shipdate) AS DATE) AS close_d
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
             c.l_orderkey AS orderkey, c.close_d,
             c.cnet - o2.onet AS pnl, c.cnet / c.cq AS px
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    cr AS (
      SELECT 'close_rates' AS section, 'window_14d' AS key,
             CAST(SUM(CASE WHEN orderkey % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n,
             ROUND(SUM(CASE WHEN orderkey % 2 = 0
                       THEN 1 ELSE 0 END) / 14.0, 6) AS m1,
             ROUND(GREATEST(COUNT(*) / 14.0
                   - SUM(CASE WHEN orderkey % 2 = 0 THEN 1 ELSE 0 END)
                     / 14.0, 0.0), 6) AS m2,
             CAST(COUNT(*) AS VARCHAR) AS note
      FROM trades
      WHERE close_d >= DATE '{_CSN_AS_OF}' - 14
    ),
    cp AS (
      SELECT 'closed_pnl', 'all',
             CAST(COUNT(*) AS BIGINT),
             ROUND(CASE WHEN COUNT(*) > 0
                   THEN CAST(SUM(CASE WHEN pnl > 0 THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*) END, 4),
             ROUND(CASE WHEN SUM(CASE WHEN pnl < 0 THEN ABS(pnl)
                             ELSE 0 END) > 0
                   THEN SUM(CASE WHEN pnl > 0 THEN pnl ELSE 0 END)
                        / SUM(CASE WHEN pnl < 0 THEN ABS(pnl)
                              ELSE 0 END) END, 3),
             CAST(CAST(ROUND(SUM(pnl), 2) AS DECIMAL(28,2)) AS VARCHAR)
      FROM trades
    ),
    open_lots AS (
      SELECT 'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             op.l_orderkey AS orderkey,
             op.oq * (op.onet / op.oq) AS notional,
             op.onet / op.oq AS entry
      FROM opens op
      JOIN orders o ON o.o_orderkey = op.l_orderkey
      WHERE o.o_orderstatus = 'O' AND op.oq > 0
        AND op.l_orderkey % 4 <> 0
    ),
    lastpx AS (
      SELECT ticker, px FROM (
        SELECT ticker, px, ROW_NUMBER() OVER (PARTITION BY ticker
               ORDER BY close_d DESC, orderkey DESC) AS rk
        FROM trades) z
      WHERE rk = 1
    ),
    orisk AS (
      SELECT 'open_risk', ol.ticker,
             CAST(COUNT(*) AS BIGINT),
             ROUND(SUM(ol.notional), 2),
             ROUND(AVG(ABS(lp.px - ol.entry * 0.95)
                       / ABS(ol.entry * 1.10 - ol.entry * 0.95)), 6),
             CAST(NULL AS VARCHAR)
      FROM open_lots ol
      LEFT JOIN lastpx lp ON lp.ticker = ol.ticker
      GROUP BY ol.ticker
    ),
    tot AS (
      SELECT 'open_risk', 'TOTAL', CAST(COUNT(*) AS BIGINT),
             ROUND(SUM(notional), 2), CAST(NULL AS DOUBLE),
             CAST(NULL AS VARCHAR)
      FROM open_lots
    )
    SELECT * FROM cr UNION ALL SELECT * FROM cp
    UNION ALL SELECT * FROM orisk UNION ALL SELECT * FROM tot
"""


@query("canonical_snapshot", oracle=_CSN_SQL)
def canonical_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical operational snapshot — reference
    `scripts/emit_canonical_snapshot.py`: the 14-day close-rate
    coverage pair (audit-covered daily close rate and the
    new-round-trip remainder, `_query_close_rates:299-331`), the
    canonical closed-PnL rollup (count, win rate 4dp, profit factor
    3dp, total 2dp, `_query_closed_pnl:333-365`), per-ticker open risk
    over non-synthetic open lots with total notional
    (`_query_open_risk:383-399`) and the mean exit-proximity fraction
    |price−stop|/|target−stop| using the ticker's last close against
    the ±5%/+10% stop/target band (`_exit_proximity_fraction:284-297`).

    Scale: bounded folds over the family-shared closed-trade frame plus
    one per-ticker open-lot groupBy joined to the last-close window."""
    from pyspark.sql import Window

    from .queries_trades import canonical_legs_frame

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    opens = (
        li.filter(
            (F.col("l_linenumber") == 1) & (F.col("l_returnflag") != "R")
        )
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("oq"), F.sum(net).alias("onet"))
    )
    op = opens.alias("op")
    trades = canonical_legs_frame(spark, sf_dir).select(
        "ticker",
        "orderkey",
        F.to_date(F.col("cship")).alias("close_d"),
        (F.col("cnet") - F.col("onet")).alias("pnl"),
        (F.col("cnet") / F.col("cq")).alias("px"),
    )
    as_of = F.lit(_CSN_AS_OF).cast("date")
    cr = trades.filter(F.col("close_d") >= F.date_sub(as_of, 14)).agg(
        F.sum(F.when(F.col("orderkey") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("cov"),
        F.count(F.lit(1)).alias("tot"),
    ).select(
        F.lit("close_rates").alias("section"),
        F.lit("window_14d").alias("key"),
        F.col("cov").alias("n"),
        F.round(F.col("cov") / 14.0, 6).alias("m1"),
        F.round(
            F.greatest(
                F.col("tot") / 14.0 - F.col("cov") / 14.0, F.lit(0.0)
            ),
            6,
        ).alias("m2"),
        F.col("tot").cast("string").alias("note"),
    )
    gl = F.sum(F.when(F.col("pnl") < 0, F.abs(F.col("pnl"))).otherwise(0.0))
    gw = F.sum(F.when(F.col("pnl") > 0, F.col("pnl")).otherwise(0.0))
    cp = trades.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.when(
                F.count(F.lit(1)) > 0,
                F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
            ),
            4,
        ).alias("m1"),
        F.round(F.when(gl > 0, gw / gl), 3).alias("m2"),
        F.round(F.sum("pnl"), 2)
        .cast("decimal(28,2)")
        .cast("string")
        .alias("note"),
    ).select(
        F.lit("closed_pnl").alias("section"),
        F.lit("all").alias("key"),
        "n",
        "m1",
        "m2",
        "note",
    )
    open_lots = (
        opens.join(
            o.filter(F.col("o_orderstatus") == "O"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter((F.col("oq") > 0) & (F.col("l_orderkey") % 4 != 0))
        .select(
            F.concat(
                F.lit("T"), (F.col("o_custkey") % 25).cast("string")
            ).alias("ticker"),
            F.col("onet").alias("notional"),
            (F.col("onet") / F.col("oq")).alias("entry"),
        )
        .localCheckpoint()
    )
    wlast = Window.partitionBy("ticker").orderBy(
        F.col("close_d").desc(), F.col("orderkey").desc()
    )
    lastpx = (
        trades.withColumn("rk", F.row_number().over(wlast))
        .filter(F.col("rk") == 1)
        .select(F.col("ticker").alias("lt"), "px")
    )
    prox = F.abs(F.col("px") - F.col("entry") * 0.95) / F.abs(
        F.col("entry") * 1.10 - F.col("entry") * 0.95
    )
    orisk = (
        open_lots.join(lastpx, F.col("lt") == F.col("ticker"), "left")
        .groupBy("ticker")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("notional"), 2).alias("m1"),
            F.round(F.avg(prox), 6).alias("m2"),
        )
        .select(
            F.lit("open_risk").alias("section"),
            F.col("ticker").alias("key"),
            "n",
            "m1",
            "m2",
            F.lit(None).cast("string").alias("note"),
        )
    )
    tot = open_lots.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("notional"), 2).alias("m1"),
    ).select(
        F.lit("open_risk").alias("section"),
        F.lit("TOTAL").alias("key"),
        "n",
        "m1",
        F.lit(None).cast("double").alias("m2"),
        F.lit(None).cast("string").alias("note"),
    )
    return cr.unionByName(cp).unionByName(orisk).unionByName(tot)


# ---------------------------------------------------------------------------
# Unified signal adapter validation — reference models/signal_adapter.py
# ---------------------------------------------------------------------------
# Two source shapes normalize into the unified schema (TS signals = click
# events, LLM signals = view events; LLM defaults: action HOLD, confidence
# 0.5, entry 0.0 on null — `from_llm_signal:100-147`). Planted defect
# channels: blank ticker when event_id%31=0, invalid action token when
# %29=0, out-of-range confidence when %23=0, non-positive entry when
# %19=0. The validation ladder short-circuits in reference order:
# ticker -> action -> confidence -> entry price (`validate_signal:238-261`).
_SAV_SQL = """
    WITH raw AS (
      SELECT event_id AS signal_id,
             CASE WHEN event_type = 'click' THEN 'TS' ELSE 'LLM' END
               AS source,
             CASE WHEN event_id % 31 = 0 THEN ''
                  ELSE 'T' || CAST(user_id % 25 AS VARCHAR) END AS ticker,
             CASE WHEN event_id % 29 = 0 THEN 'LONG'
                  WHEN event_id % 3 = 0 THEN 'BUY'
                  WHEN event_id % 3 = 1 THEN 'SELL'
                  ELSE 'HOLD' END AS action,
             CASE WHEN event_id % 23 = 0 THEN 1.2
                  ELSE ('0x' || SUBSTR(MD5('sv|'
                       || CAST(event_id AS VARCHAR)), 1, 6))::BIGINT
                       / 16777216.0 END AS confidence,
             CASE WHEN event_id % 19 = 0 THEN 0.0 ELSE value END
               AS entry_price
      FROM events
      WHERE event_type IN ('click', 'view')
    ),
    validated AS (
      SELECT *,
             CASE WHEN ticker = '' THEN 'missing_ticker'
                  WHEN action NOT IN ('BUY', 'SELL', 'HOLD')
                    THEN 'invalid_action'
                  WHEN confidence < 0.0 OR confidence > 1.0
                    THEN 'confidence_out_of_range'
                  WHEN entry_price <= 0 THEN 'invalid_entry_price'
             END AS error_class
      FROM raw
    )
    SELECT source, COALESCE(error_class, 'valid') AS error_class,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CASE WHEN error_class IS NULL
                     THEN confidence END), 6) AS mean_valid_confidence
    FROM validated
    GROUP BY source, COALESCE(error_class, 'valid')
"""


@query("signal_adapter_validation", oracle=_SAV_SQL)
def signal_adapter_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified-signal adapter validation census — reference
    `models/signal_adapter.py`: TS and LLM source shapes normalized
    into the unified schema with the LLM defaults (HOLD action, 0.5
    confidence, 0.0 entry on null — `from_llm_signal:100-147`), then
    the short-circuit validation ladder — missing ticker, invalid
    action token, confidence outside [0,1], non-positive entry price
    (`validate_signal:238-261`) — rolled up per (source, error class)
    with the mean confidence of the surviving signals.

    Scale: one filtered scan + one bounded groupBy."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    eid = F.col("event_id")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sv|"), eid.cast("string"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        / 16777216.0
    )
    raw = ev.select(
        eid.alias("signal_id"),
        F.when(F.col("event_type") == "click", "TS")
        .otherwise("LLM")
        .alias("source"),
        F.when(eid % 31 == 0, "")
        .otherwise(
            F.concat(F.lit("T"), (F.col("user_id") % 25).cast("string"))
        )
        .alias("ticker"),
        F.when(eid % 29 == 0, "LONG")
        .when(eid % 3 == 0, "BUY")
        .when(eid % 3 == 1, "SELL")
        .otherwise("HOLD")
        .alias("action"),
        F.when(eid % 23 == 0, F.lit(1.2)).otherwise(u).alias("confidence"),
        F.when(eid % 19 == 0, F.lit(0.0))
        .otherwise(F.col("value"))
        .alias("entry_price"),
    )
    err = (
        F.when(F.col("ticker") == "", "missing_ticker")
        .when(
            ~F.col("action").isin("BUY", "SELL", "HOLD"), "invalid_action"
        )
        .when(
            (F.col("confidence") < 0.0) | (F.col("confidence") > 1.0),
            "confidence_out_of_range",
        )
        .when(F.col("entry_price") <= 0, "invalid_entry_price")
    )
    validated = raw.withColumn("error_class", err)
    return validated.groupBy(
        "source",
        F.coalesce(F.col("error_class"), F.lit("valid")).alias(
            "error_class"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        r6(
            F.avg(
                F.when(
                    F.col("error_class").isNull(), F.col("confidence")
                )
            )
        ).alias("mean_valid_confidence"),
    )


# ---------------------------------------------------------------------------
# Config proposal generation — reference scripts/generate_config_proposals.py
# ---------------------------------------------------------------------------
# Composes the two automation artifacts the script consumes — the TS
# threshold sweep (R78) and the transaction-cost estimates (R60) — into
# actionable config proposals: per-ticker best gridpoint under the
# 10-trade / PF>=1.1 / WR>=0.5 constraints with the (annualized_pnl,
# total_profit, profit_factor) argmax (`_select_best_thresholds:110-175`),
# and per-group roundtrip-cost suggestions with the 2x-total-median
# fallback ladder and the +5bps safety buffer (`_derive_cost_proposals:
# 177-215`).
_CPG_MIN_TRADES = 10
_CPG_MIN_PF = 1.1
_CPG_MIN_WR = 0.5
_CPG_BUFFER_BPS = 5.0


def _cpg_oracle() -> str:
    from .queries import ORACLE

    sweep = ORACLE["ts_threshold_sweep"]
    costs = ORACLE["transaction_cost_estimates"]
    return f"""
    WITH sweep AS ({sweep}),
    costs AS ({costs}),
    cand AS (
      SELECT * FROM sweep
      WHERE record_type = 'gridpoint'
        AND total_trades >= {_CPG_MIN_TRADES}
        AND profit_factor >= {_CPG_MIN_PF}
        AND win_rate >= {_CPG_MIN_WR}
    ),
    best AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ticker
               ORDER BY annualized_pnl DESC, total_profit DESC,
                        profit_factor DESC, conf_thr, ret_thr) AS rk
        FROM cand) z
      WHERE rk = 1
    ),
    ts_rows AS (
      SELECT 'ts_threshold' AS section, ticker AS key,
             conf_thr AS confidence_threshold,
             ret_thr AS min_expected_return,
             CAST(total_trades AS BIGINT) AS n,
             win_rate, profit_factor,
             ROUND(total_profit, 6) AS m1,
             ROUND(annualized_pnl, 6) AS m2
      FROM best
    ),
    cost_rows AS (
      SELECT 'roundtrip_cost' AS section, asset_class AS key,
             CAST(NULL AS DOUBLE) AS confidence_threshold,
             CAST(NULL AS DOUBLE) AS min_expected_return,
             CAST(trades AS BIGINT) AS n,
             CAST(NULL AS DOUBLE) AS win_rate,
             CAST(NULL AS DOUBLE) AS profit_factor,
             ROUND(COALESCE(roundtrip_cost_median_bps,
                   2.0 * total_cost_median_bps,
                   2.0 * commission_median_bps, 0.0), 6) AS m1,
             ROUND(GREATEST(0.0, COALESCE(roundtrip_cost_median_bps,
                   2.0 * total_cost_median_bps,
                   2.0 * commission_median_bps, 0.0)
                   + {_CPG_BUFFER_BPS}), 6) AS m2
      FROM costs
    )
    SELECT * FROM ts_rows UNION ALL SELECT * FROM cost_rows
    """


@query("config_proposal_generation")
def config_proposal_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automated config proposals — reference
    `scripts/generate_config_proposals.py`: per-ticker TS threshold
    proposals from the sweep's gridpoints under the 10-trade /
    PF>=1.1 / WR>=0.5 floors with the (annualized_pnl, total_profit,
    profit_factor) argmax (`_select_best_thresholds:110-175`; the
    honour-the-selection branch reduces to this ladder when the
    sweeper's rule set matches), and per-group roundtrip-cost
    suggestions via the 2x-total-median / 2x-commission fallback
    ladder plus the +5bps safety buffer
    (`_derive_cost_proposals:177-215`).

    Scale: composes the two existing artifact frames (R78, R60); the
    proposal ladder is one per-ticker window over the sweep grid and a
    column map over the bounded cost groups."""
    from pyspark.sql import Window

    sweep = QUERIES["ts_threshold_sweep"](spark, sf_dir)
    costs = QUERIES["transaction_cost_estimates"](spark, sf_dir)
    cand = sweep.filter(
        (F.col("record_type") == "gridpoint")
        & (F.col("total_trades") >= _CPG_MIN_TRADES)
        & (F.col("profit_factor") >= _CPG_MIN_PF)
        & (F.col("win_rate") >= _CPG_MIN_WR)
    )
    wbest = Window.partitionBy("ticker").orderBy(
        F.col("annualized_pnl").desc(),
        F.col("total_profit").desc(),
        F.col("profit_factor").desc(),
        "conf_thr",
        "ret_thr",
    )
    ts_rows = (
        cand.withColumn("rk", F.row_number().over(wbest))
        .filter(F.col("rk") == 1)
        .select(
            F.lit("ts_threshold").alias("section"),
            F.col("ticker").alias("key"),
            F.col("conf_thr").alias("confidence_threshold"),
            F.col("ret_thr").alias("min_expected_return"),
            F.col("total_trades").cast("long").alias("n"),
            "win_rate",
            "profit_factor",
            F.round("total_profit", 6).alias("m1"),
            F.round("annualized_pnl", 6).alias("m2"),
        )
    )
    rt = F.coalesce(
        F.col("roundtrip_cost_median_bps"),
        2.0 * F.col("total_cost_median_bps"),
        2.0 * F.col("commission_median_bps"),
        F.lit(0.0),
    )
    cost_rows = costs.select(
        F.lit("roundtrip_cost").alias("section"),
        F.col("asset_class").alias("key"),
        F.lit(None).cast("double").alias("confidence_threshold"),
        F.lit(None).cast("double").alias("min_expected_return"),
        F.col("trades").cast("long").alias("n"),
        F.lit(None).cast("double").alias("win_rate"),
        F.lit(None).cast("double").alias("profit_factor"),
        F.round(rt, 6).alias("m1"),
        F.round(
            F.greatest(F.lit(0.0), rt + _CPG_BUFFER_BPS), 6
        ).alias("m2"),
    )
    return ts_rows.unionByName(cost_rows)


ORACLE["config_proposal_generation"] = _cpg_oracle()


# ---------------------------------------------------------------------------
# TS model config proposals —
# reference scripts/generate_ts_model_config_proposals.py
# ---------------------------------------------------------------------------
_TCP_MIN_STAB = 0.85
_TCP_MAX_DM_P = 0.10


def _tcp_oracle() -> str:
    return f"""
    WITH search AS ({ORACLE["ts_model_search_report"]})
    SELECT ticker, observed_regime AS regime,
           candidate AS candidate_name,
           effective_score AS score, stability,
           dm_better_model, dm_p_value,
           similarity_weight AS regime_similarity_weight,
           'suggest_profile_update' AS action
    FROM search
    WHERE is_best = 1
      AND (stability IS NULL OR stability >= {_TCP_MIN_STAB})
      AND (dm_p_value IS NULL OR dm_p_value <= {_TCP_MAX_DM_P})
    """


@query("ts_model_config_proposals")
def ts_model_config_proposals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Advisory TS model config proposals — reference
    `scripts/generate_ts_model_config_proposals.py:66-231`: the best
    candidate per (ticker, regime) by score (R92's per-ticker argmax),
    emitted only when stability clears the 0.85 floor (when measured)
    and the DM p-value is baseline-null or <= 0.10 — the advisory
    suggest_profile_update rows the automation writes for human review.
    The amplitude-hit-rate gate is vacuous here (the engine's search
    carries no amplitude metric, mirroring the reference's
    None-passes-through semantics).

    Scale: a filter over the R92 frame — no additional shuffle."""
    s = QUERIES["ts_model_search_report"](spark, sf_dir)
    return s.filter(
        (F.col("is_best") == 1)
        & (
            F.col("stability").isNull()
            | (F.col("stability") >= _TCP_MIN_STAB)
        )
        & (
            F.col("dm_p_value").isNull()
            | (F.col("dm_p_value") <= _TCP_MAX_DM_P)
        )
    ).select(
        "ticker",
        F.col("observed_regime").alias("regime"),
        F.col("candidate").alias("candidate_name"),
        F.col("effective_score").alias("score"),
        "stability",
        "dm_better_model",
        "dm_p_value",
        F.col("similarity_weight").alias("regime_similarity_weight"),
        F.lit("suggest_profile_update").alias("action"),
    )


ORACLE["ts_model_config_proposals"] = _tcp_oracle()


# ---------------------------------------------------------------------------
# MVS paper window — reference scripts/run_mvs_paper_window.py
# ---------------------------------------------------------------------------
# Momentum + time-exit replay per key: enter long when price > SMA20 >
# SMA50 and the 5-bar momentum clears 0.5% (history floor 60 bars); exit
# after 10 calendar days held or on price < SMA20; liquidate any open
# position at the final bar (`:300-416`). The MVS gate: profit > 0,
# WR > 0.45, PF > 1.0, >= 30 trades (`:420-425`). Determinism: prices are
# half-up-rounded to 6dp and the SMAs are EXACT DECIMAL window sums, so
# both engines walk bit-identical state paths; the position recursion runs
# in an applyInPandas kernel and the oracle replays it with a recursive
# CTE over the bar index.
_MVS_MOM_LB = 5
_MVS_MOM_TH = 0.005
_MVS_HOLD_MAX = 10
_MVS_HIST = 60
_MVS_PF_CAP = 99.0


def _mvs_states(pdf):
    import pandas as pd

    pdf = pdf.sort_values("rn")
    pos, entry, held_d = 0, 0.0, None
    last_pr = None
    trades = []
    for r in pdf.itertuples():
        last_pr = r.pr
        if pos == 0:
            if (
                r.rn >= _MVS_HIST
                and r.s20 is not None
                and r.s50 is not None
                and r.mom is not None
                and r.pr > r.s20
                and r.s20 > r.s50
                and r.mom >= _MVS_MOM_TH
            ):
                pos, entry, held_d = 1, r.pr, r.d
        else:
            held_days = (r.d - held_d).days
            if held_days >= _MVS_HOLD_MAX or (
                r.s20 is not None and r.pr < r.s20
            ):
                trades.append((r.user_id, entry, r.pr))
                pos = 0
    if pos == 1 and last_pr is not None:
        trades.append((pdf.user_id.iloc[0], entry, last_pr))
    return pd.DataFrame(
        trades, columns=["user_id", "entry_price", "exit_price"]
    )


_MVS_SQL = f"""
    WITH RECURSIVE s0 AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             FLOOR(value * 1e6 + 0.5) / 1e6 AS pr,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM (SELECT * FROM events WHERE value > 0)
    ),
    bars AS (
      SELECT user_id, rn, d, pr,
             CASE WHEN rn >= 20 THEN CAST(SUM(
               CAST(pr AS DECIMAL(18,6))) OVER (PARTITION BY user_id
               ORDER BY rn ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS DOUBLE) / 20.0 END AS s20,
             CASE WHEN rn >= 50 THEN CAST(SUM(
               CAST(pr AS DECIMAL(18,6))) OVER (PARTITION BY user_id
               ORDER BY rn ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
               AS DOUBLE) / 50.0 END AS s50,
             pr / LAG(pr, {_MVS_MOM_LB}) OVER (PARTITION BY user_id
               ORDER BY rn) - 1.0 AS mom,
             MAX(rn) OVER (PARTITION BY user_id) AS mxr
      FROM s0
    ),
    rec AS (
      SELECT user_id, 0 AS rn, 0 AS pos,
             CAST(0.0 AS DOUBLE) AS entry, CAST(NULL AS DATE) AS held_d,
             CAST(NULL AS DOUBLE) AS exit_px
      FROM (SELECT DISTINCT user_id FROM bars)
      UNION ALL
      SELECT b.user_id, b.rn,
             CASE
               WHEN r.pos = 0 AND b.rn >= {_MVS_HIST}
                    AND b.s20 IS NOT NULL AND b.s50 IS NOT NULL
                    AND b.mom IS NOT NULL AND b.pr > b.s20
                    AND b.s20 > b.s50 AND b.mom >= {_MVS_MOM_TH}
                 THEN 1
               WHEN r.pos = 1 AND (b.d - r.held_d >= {_MVS_HOLD_MAX}
                    OR (b.s20 IS NOT NULL AND b.pr < b.s20))
                 THEN 0
               ELSE r.pos END,
             CASE
               WHEN r.pos = 0 AND b.rn >= {_MVS_HIST}
                    AND b.s20 IS NOT NULL AND b.s50 IS NOT NULL
                    AND b.mom IS NOT NULL AND b.pr > b.s20
                    AND b.s20 > b.s50 AND b.mom >= {_MVS_MOM_TH}
                 THEN b.pr
               ELSE r.entry END,
             CASE
               WHEN r.pos = 0 AND b.rn >= {_MVS_HIST}
                    AND b.s20 IS NOT NULL AND b.s50 IS NOT NULL
                    AND b.mom IS NOT NULL AND b.pr > b.s20
                    AND b.s20 > b.s50 AND b.mom >= {_MVS_MOM_TH}
                 THEN b.d
               WHEN r.pos = 1 AND (b.d - r.held_d >= {_MVS_HOLD_MAX}
                    OR (b.s20 IS NOT NULL AND b.pr < b.s20))
                 THEN NULL
               ELSE r.held_d END,
             CASE WHEN r.pos = 1 AND (b.d - r.held_d >= {_MVS_HOLD_MAX}
                       OR (b.s20 IS NOT NULL AND b.pr < b.s20))
                  THEN b.pr END
      FROM rec r
      JOIN bars b ON b.user_id = r.user_id AND b.rn = r.rn + 1
    ),
    closed AS (
      -- entry persists through the sell row (it only resets on the
      -- next BUY), so the sell row itself carries the pair
      SELECT user_id, entry AS entry_price, exit_px AS exit_price
      FROM rec WHERE exit_px IS NOT NULL
      UNION ALL
      -- final-bar liquidation of a still-open position
      SELECT r.user_id, r.entry, b.pr
      FROM rec r
      JOIN bars b ON b.user_id = r.user_id AND b.rn = r.rn
                 AND b.rn = b.mxr
      WHERE r.pos = 1
    ),
    per AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_trades,
             ROUND(SUM(exit_price - entry_price), 6) AS total_profit,
             ROUND(AVG(CASE WHEN exit_price > entry_price
                       THEN 1.0 ELSE 0.0 END), 6) AS win_rate,
             ROUND(CASE
               WHEN SUM(CASE WHEN exit_price <= entry_price
                        THEN entry_price - exit_price ELSE 0 END) > 0
                 THEN LEAST(SUM(CASE WHEN exit_price > entry_price
                            THEN exit_price - entry_price ELSE 0 END)
                      / SUM(CASE WHEN exit_price <= entry_price
                            THEN entry_price - exit_price ELSE 0 END),
                      {_MVS_PF_CAP})
               WHEN SUM(CASE WHEN exit_price > entry_price
                        THEN exit_price - entry_price ELSE 0 END) > 0
                 THEN {_MVS_PF_CAP} ELSE 0.0 END, 6) AS profit_factor
      FROM closed GROUP BY user_id
    ),
    fleet AS (
      SELECT CAST(-1 AS BIGINT) AS user_id,
             CAST(COUNT(*) AS BIGINT) AS n_trades,
             ROUND(SUM(exit_price - entry_price), 6) AS total_profit,
             ROUND(AVG(CASE WHEN exit_price > entry_price
                       THEN 1.0 ELSE 0.0 END), 6) AS win_rate,
             ROUND(CASE
               WHEN SUM(CASE WHEN exit_price <= entry_price
                        THEN entry_price - exit_price ELSE 0 END) > 0
                 THEN LEAST(SUM(CASE WHEN exit_price > entry_price
                            THEN exit_price - entry_price ELSE 0 END)
                      / SUM(CASE WHEN exit_price <= entry_price
                            THEN entry_price - exit_price ELSE 0 END),
                      {_MVS_PF_CAP})
               WHEN SUM(CASE WHEN exit_price > entry_price
                        THEN exit_price - entry_price ELSE 0 END) > 0
                 THEN {_MVS_PF_CAP} ELSE 0.0 END, 6) AS profit_factor
      FROM closed
    )
    SELECT user_id, n_trades, total_profit, win_rate, profit_factor,
           CAST(NULL AS VARCHAR) AS mvs_status
    FROM per
    UNION ALL
    SELECT user_id, n_trades, total_profit, win_rate, profit_factor,
           CASE WHEN total_profit > 0 AND win_rate > 0.45
                     AND profit_factor > 1.0 AND n_trades >= 30
                THEN 'PASS' ELSE 'FAIL' END
    FROM fleet
"""


@query("mvs_paper_window_report", oracle=_MVS_SQL)
def mvs_paper_window_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MVS paper-window momentum replay — reference
    `scripts/run_mvs_paper_window.py:300-425`: the trend-entry rule
    (price > SMA20 > SMA50 with the 5-bar momentum >= 0.5% and the
    60-bar history floor), the 10-calendar-day / price-below-SMA20
    exits, the final-bar liquidation of open positions, per-key and
    fleet realized-trade metrics, and the MVS gate (profit > 0,
    WR > 0.45, PF > 1.0, >= 30 trades → PASS).

    Determinism discipline: half-up 6dp prices + exact DECIMAL window
    sums for the SMAs give both engines bit-identical state inputs; the
    position recursion runs in an applyInPandas kernel, value-checked
    by the oracle's recursive CTE over the bar index."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s0 = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        (F.floor(F.col("value") * 1e6 + 0.5) / 1e6).alias("pr"),
        F.row_number().over(w).alias("rn"),
    )
    wr_ = Window.partitionBy("user_id").orderBy("rn")
    dec = F.col("pr").cast("decimal(18,6)")
    bars = s0.select(
        "user_id",
        "rn",
        "d",
        "pr",
        F.when(
            F.col("rn") >= 20,
            F.sum(dec).over(wr_.rowsBetween(-19, 0)).cast("double") / 20.0,
        ).alias("s20"),
        F.when(
            F.col("rn") >= 50,
            F.sum(dec).over(wr_.rowsBetween(-49, 0)).cast("double") / 50.0,
        ).alias("s50"),
        (F.col("pr") / F.lag("pr", _MVS_MOM_LB).over(wr_) - 1.0).alias(
            "mom"
        ),
    )
    closed = bars.groupBy("user_id").applyInPandas(
        _mvs_states,
        "user_id long, entry_price double, exit_price double",
    ).localCheckpoint()
    win = F.when(F.col("exit_price") > F.col("entry_price"), 1.0).otherwise(
        0.0
    )
    gw = F.sum(
        F.when(
            F.col("exit_price") > F.col("entry_price"),
            F.col("exit_price") - F.col("entry_price"),
        ).otherwise(0.0)
    )
    gl = F.sum(
        F.when(
            F.col("exit_price") <= F.col("entry_price"),
            F.col("entry_price") - F.col("exit_price"),
        ).otherwise(0.0)
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.round(
            F.sum(F.col("exit_price") - F.col("entry_price")), 6
        ).alias("total_profit"),
        F.round(F.avg(win), 6).alias("win_rate"),
        F.round(
            F.when(gl > 0, F.least(gw / gl, F.lit(_MVS_PF_CAP)))
            .when(gw > 0, F.lit(_MVS_PF_CAP))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("profit_factor"),
    ]
    per = closed.groupBy("user_id").agg(*aggs).withColumn(
        "mvs_status", F.lit(None).cast("string")
    )
    fleet = closed.agg(*aggs).select(
        F.lit(-1).cast("long").alias("user_id"),
        "n_trades",
        "total_profit",
        "win_rate",
        "profit_factor",
        F.when(
            (F.col("total_profit") > 0)
            & (F.col("win_rate") > 0.45)
            & (F.col("profit_factor") > 1.0)
            & (F.col("n_trades") >= 30),
            "PASS",
        )
        .otherwise("FAIL")
        .alias("mvs_status"),
    )
    return per.unionByName(fleet)


# ---------------------------------------------------------------------------
# LLM fallback signal + generation rules — reference ai_llm/signal_generator.py
# ---------------------------------------------------------------------------
# The deterministic no-LLM path (`_fallback_signal:255-310`): SMA20/SMA50
# cross with trend support and the RSI 75/25 override ladder, conservative
# 0.35 base / 0.55 setup / 0.5 RSI confidences; then the generation rules
# (`_apply_generation_rules:311-357`): reasoning under 30 chars → HOLD,
# confidence under min_confidence_for_action (0.6) → HOLD, conservative
# bias demotes BUY/SELL under max(min_conf, 0.75). Trend = the market
# analyzer's price-vs-SMA ladder (R46). Indicators at each key's last bar.
_LFS_MIN_CONF = 0.6
_LFS_CONS_TH = 0.75

_LFS_SQL = f"""
    WITH s0 AS (
      SELECT user_id, value AS px,
             ROW_NUMBER() OVER w AS rn,
             AVG(value) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
               AS sma20,
             AVG(value) OVER (w ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
               AS sma50,
             GREATEST(value - LAG(value) OVER w, 0) AS du,
             GREATEST(LAG(value) OVER w - value, 0) AS dd
      FROM (SELECT * FROM events WHERE value > 0)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, px, rn, sma20, sma50,
             AVG(du) OVER (w2 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
               AS gain,
             AVG(dd) OVER (w2 ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
               AS loss,
             MAX(rn) OVER (PARTITION BY user_id) AS mx
      FROM s0
      WINDOW w2 AS (PARTITION BY user_id ORDER BY rn)
    ),
    last_bar AS (
      SELECT user_id, px, sma20, sma50,
             100.0 - 100.0 / (1.0 + CASE WHEN loss <> 0
                              THEN gain / loss ELSE 0 END) AS rsi,
             CASE WHEN px > sma20 AND sma20 > sma50 THEN 'bullish'
                  WHEN px < sma20 AND sma20 < sma50 THEN 'bearish'
                  ELSE 'neutral' END AS trend
      FROM s WHERE rn = mx AND rn >= 51
    ),
    fb AS (
      SELECT *,
             CASE
               WHEN rsi > 75 THEN 'SELL'
               WHEN rsi < 25 THEN 'BUY'
               WHEN sma20 > sma50 AND trend = 'bullish' AND rsi < 70
                 THEN 'BUY'
               WHEN sma20 < sma50 AND trend = 'bearish' AND rsi > 30
                 THEN 'SELL'
               ELSE 'HOLD' END AS fb_action,
             CASE
               WHEN rsi > 75 OR rsi < 25 THEN
                 GREATEST(CASE WHEN (sma20 > sma50 AND trend = 'bullish'
                                     AND rsi < 70)
                                 OR (sma20 < sma50 AND trend = 'bearish'
                                     AND rsi > 30)
                          THEN 0.55 ELSE 0.35 END, 0.5)
               WHEN (sma20 > sma50 AND trend = 'bullish' AND rsi < 70)
                 OR (sma20 < sma50 AND trend = 'bearish' AND rsi > 30)
                 THEN 0.55
               ELSE 0.35 END AS fb_confidence,
             CASE
               WHEN (sma20 > sma50 AND trend = 'bullish' AND rsi < 70)
                 OR (sma20 < sma50 AND trend = 'bearish' AND rsi > 30)
                 OR rsi > 75 OR rsi < 25 THEN 55
               ELSE 48 END AS reasoning_len
      FROM last_bar
    )
    SELECT user_id, ROUND(px, 6) AS px, ROUND(sma20, 6) AS sma20,
           ROUND(sma50, 6) AS sma50, ROUND(rsi, 6) AS rsi_14, trend,
           fb_action, fb_confidence, reasoning_len,
           CASE
             WHEN fb_action = 'HOLD' THEN 'HOLD'
             WHEN reasoning_len < 30 THEN 'HOLD'
             WHEN fb_confidence < {_LFS_MIN_CONF} THEN 'HOLD'
             WHEN fb_confidence < GREATEST({_LFS_MIN_CONF}, {_LFS_CONS_TH})
               THEN 'HOLD'
             ELSE fb_action END AS final_action,
           CASE
             WHEN fb_action = 'HOLD' THEN 'none'
             WHEN reasoning_len < 30 THEN 'reasoning_short'
             WHEN fb_confidence < {_LFS_MIN_CONF} THEN 'below_min_conf'
             WHEN fb_confidence < GREATEST({_LFS_MIN_CONF}, {_LFS_CONS_TH})
               THEN 'conservative_bias'
             ELSE 'none' END AS adjustment
    FROM fb
"""


@query("llm_fallback_signal_rules", oracle=_LFS_SQL)
def llm_fallback_signal_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic LLM-fallback signal + generation rules — reference
    `ai_llm/signal_generator.py`: the conservative heuristic signal
    when the LLM is unavailable (`_fallback_signal:255-310`: SMA20/50
    cross gated by the analyzer trend and RSI<70/>30, the RSI 75/25
    overbought/oversold override, the 0.35/0.55/0.5 confidence
    ladder), the simplified Wilder RSI (`_compute_indicators:159-188`:
    14-bar mean gain/loss, rs=0 when losses vanish), and the
    generation-rule ladder that demotes to HOLD on short reasoning,
    sub-0.6 confidence, or the 0.75 conservative-bias floor
    (`_apply_generation_rules:311-357`) — which caps every fallback
    signal at HOLD by construction (fallback confidence tops out at
    0.55), exactly the reference's conservative design.

    Scale: one window pass per key, evaluated at each key's last bar."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta_up = F.greatest(
        F.col("value") - F.lag("value").over(w), F.lit(0.0)
    )
    delta_dn = F.greatest(
        F.lag("value").over(w) - F.col("value"), F.lit(0.0)
    )
    s = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("value").alias("px"),
            F.row_number().over(w).alias("rn"),
            F.avg("value").over(w.rowsBetween(-19, 0)).alias("sma20"),
            F.avg("value").over(w.rowsBetween(-49, 0)).alias("sma50"),
            delta_up.alias("du"),
            delta_dn.alias("dd"),
        )
        .withColumn(
            "gain",
            F.avg("du").over(
                Window.partitionBy("user_id")
                .orderBy("rn")
                .rowsBetween(-13, 0)
            ),
        )
        .withColumn(
            "loss",
            F.avg("dd").over(
                Window.partitionBy("user_id")
                .orderBy("rn")
                .rowsBetween(-13, 0)
            ),
        )
        .withColumn("mx", F.max("rn").over(Window.partitionBy("user_id")))
    )
    rsi = 100.0 - 100.0 / (
        1.0
        + F.when(F.col("loss") != 0, F.col("gain") / F.col("loss")).otherwise(
            F.lit(0.0)
        )
    )
    lb = s.filter((F.col("rn") == F.col("mx")) & (F.col("rn") >= 51)).select(
        "user_id",
        "px",
        "sma20",
        "sma50",
        rsi.alias("rsi"),
        F.when(
            (F.col("px") > F.col("sma20"))
            & (F.col("sma20") > F.col("sma50")),
            "bullish",
        )
        .when(
            (F.col("px") < F.col("sma20"))
            & (F.col("sma20") < F.col("sma50")),
            "bearish",
        )
        .otherwise("neutral")
        .alias("trend"),
    )
    setup = (
        (F.col("sma20") > F.col("sma50"))
        & (F.col("trend") == "bullish")
        & (F.col("rsi") < 70)
    ) | (
        (F.col("sma20") < F.col("sma50"))
        & (F.col("trend") == "bearish")
        & (F.col("rsi") > 30)
    )
    rsi_ovr = (F.col("rsi") > 75) | (F.col("rsi") < 25)
    fb = lb.select(
        "*",
        F.when(F.col("rsi") > 75, "SELL")
        .when(F.col("rsi") < 25, "BUY")
        .when(
            (F.col("sma20") > F.col("sma50"))
            & (F.col("trend") == "bullish")
            & (F.col("rsi") < 70),
            "BUY",
        )
        .when(
            (F.col("sma20") < F.col("sma50"))
            & (F.col("trend") == "bearish")
            & (F.col("rsi") > 30),
            "SELL",
        )
        .otherwise("HOLD")
        .alias("fb_action"),
        F.when(
            rsi_ovr,
            F.greatest(
                F.when(setup, 0.55).otherwise(0.35), F.lit(0.5)
            ),
        )
        .when(setup, F.lit(0.55))
        .otherwise(F.lit(0.35))
        .alias("fb_confidence"),
        F.when(setup | rsi_ovr, 55).otherwise(48).alias("reasoning_len"),
    )
    hold = F.col("fb_action") == "HOLD"
    return fb.select(
        "user_id",
        r6(F.col("px")).alias("px"),
        r6(F.col("sma20")).alias("sma20"),
        r6(F.col("sma50")).alias("sma50"),
        r6(F.col("rsi")).alias("rsi_14"),
        "trend",
        "fb_action",
        "fb_confidence",
        "reasoning_len",
        F.when(hold, "HOLD")
        .when(F.col("reasoning_len") < 30, "HOLD")
        .when(F.col("fb_confidence") < _LFS_MIN_CONF, "HOLD")
        .when(
            F.col("fb_confidence") < max(_LFS_MIN_CONF, _LFS_CONS_TH),
            "HOLD",
        )
        .otherwise(F.col("fb_action"))
        .alias("final_action"),
        F.when(hold, "none")
        .when(F.col("reasoning_len") < 30, "reasoning_short")
        .when(F.col("fb_confidence") < _LFS_MIN_CONF, "below_min_conf")
        .when(
            F.col("fb_confidence") < max(_LFS_MIN_CONF, _LFS_CONS_TH),
            "conservative_bias",
        )
        .otherwise("none")
        .alias("adjustment"),
    )


# ---------------------------------------------------------------------------
# LLM report: signal accuracy — reference scripts/generate_llm_report.py
# ---------------------------------------------------------------------------


def _lar_oracle() -> str:
    return f"""
    WITH v AS ({ORACLE["llm_signal_tracking_validation"]}),
    sig AS (
      SELECT *, 0.5 + ('0x' || SUBSTR(MD5('rc|'
             || CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
             / 16777216.0 / 2.0 AS confidence
      FROM v WHERE validation_status = 'validated'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS total_signals,
           CAST(SUM(CASE WHEN action = 'BUY' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_buy,
           CAST(SUM(CASE WHEN action = 'SELL' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_sell,
           CAST(SUM(CASE WHEN action = 'HOLD' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_hold,
           ROUND(AVG(confidence), 6) AS avg_confidence,
           ROUND(AVG(annual_return) * 100, 6) AS avg_annual_return_pct,
           ROUND(AVG(sharpe), 6) AS avg_sharpe_ratio,
           ROUND(AVG(alpha) * 100, 6) AS avg_alpha_pct,
           CAST(SUM(CASE WHEN confidence >= 0.7 THEN 1 ELSE 0 END)
             AS BIGINT) AS high_confidence_signals,
           CAST(SUM(CASE WHEN confidence >= 0.5 AND confidence < 0.7
                    THEN 1 ELSE 0 END) AS BIGINT)
             AS medium_confidence_signals,
           CAST(SUM(CASE WHEN confidence < 0.5 THEN 1 ELSE 0 END)
             AS BIGINT) AS low_confidence_signals,
           CASE WHEN AVG(annual_return) > 0.10 THEN 1 ELSE 0 END
             AS crit_return_above_10pct,
           CASE WHEN AVG(sharpe) > 0 THEN 1 ELSE 0 END
             AS crit_sharpe_positive,
           CASE WHEN AVG(alpha) > 0 THEN 1 ELSE 0 END
             AS crit_positive_alpha
    FROM sig
    """


@query("llm_signal_accuracy_report")
def llm_signal_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM signal-accuracy report — reference
    `scripts/generate_llm_report.py:136-197`
    (`generate_signal_accuracy_report`): over VALIDATED signals —
    action censuses, mean confidence (the portable-md5 0.5-1.0
    channel), mean backtest annual return / Sharpe / alpha (from the
    R93 validation frame), the 0.7/0.5 confidence-tier censuses and
    the three success-criteria folds (mean return > 10%, positive
    Sharpe, positive alpha).

    Scale: one fold over the R93 frame."""
    v = QUERIES["llm_signal_tracking_validation"](spark, sf_dir)
    conf = (
        0.5
        + F.conv(
            F.substring(
                F.md5(F.concat(F.lit("rc|"), F.col("user_id").cast("string"))),
                1,
                6,
            ),
            16,
            10,
        ).cast("long")
        / 16777216.0
        / 2.0
    )
    sig = v.filter(F.col("validation_status") == "validated").withColumn(
        "confidence", conf
    )
    cnt = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    return sig.agg(
        F.count(F.lit(1)).cast("long").alias("total_signals"),
        cnt(F.col("action") == "BUY").alias("n_buy"),
        cnt(F.col("action") == "SELL").alias("n_sell"),
        cnt(F.col("action") == "HOLD").alias("n_hold"),
        r6(F.avg("confidence")).alias("avg_confidence"),
        r6(F.avg("annual_return") * 100).alias("avg_annual_return_pct"),
        r6(F.avg("sharpe")).alias("avg_sharpe_ratio"),
        r6(F.avg("alpha") * 100).alias("avg_alpha_pct"),
        cnt(F.col("confidence") >= 0.7).alias("high_confidence_signals"),
        cnt(
            (F.col("confidence") >= 0.5) & (F.col("confidence") < 0.7)
        ).alias("medium_confidence_signals"),
        cnt(F.col("confidence") < 0.5).alias("low_confidence_signals"),
        F.when(F.avg("annual_return") > 0.10, 1)
        .otherwise(0)
        .alias("crit_return_above_10pct"),
        F.when(F.avg("sharpe") > 0, 1)
        .otherwise(0)
        .alias("crit_sharpe_positive"),
        F.when(F.avg("alpha") > 0, 1)
        .otherwise(0)
        .alias("crit_positive_alpha"),
    )


ORACLE["llm_signal_accuracy_report"] = _lar_oracle()


# ---------------------------------------------------------------------------
# LLM report: risk assessment — reference scripts/generate_llm_report.py
# ---------------------------------------------------------------------------


def _rar_oracle() -> str:
    return f"""
    WITH r AS ({ORACLE["risk_fallback_assessment"]})
    SELECT CAST(COUNT(*) AS BIGINT) AS total_assessments,
           CAST(SUM(CASE WHEN risk_level = 'high' THEN 1 ELSE 0 END)
             AS BIGINT) AS high_risk_tickers,
           CAST(SUM(CASE WHEN risk_level = 'medium' THEN 1 ELSE 0 END)
             AS BIGINT) AS medium_risk_tickers,
           CAST(SUM(CASE WHEN risk_level = 'low' THEN 1 ELSE 0 END)
             AS BIGINT) AS low_risk_tickers,
           ROUND(AVG(risk_score), 6) AS avg_risk_score,
           ROUND(AVG(volatility_annual_pct), 6) AS avg_volatility_pct,
           ROUND(AVG(max_drawdown_pct), 6) AS avg_max_drawdown_pct
    FROM r
    """


@query("llm_risk_assessment_report")
def llm_risk_assessment_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM risk-assessment report — reference
    `scripts/generate_llm_report.py:197-244`
    (`generate_risk_assessment_report`): the risk-level distribution,
    mean risk score, and mean volatility / max-drawdown percentages
    over the stored assessments — here the R24 deterministic-fallback
    frame, the engine's llm_risks equivalent.

    Scale: one fold over the R24 frame."""
    r = QUERIES["risk_fallback_assessment"](spark, sf_dir)
    cnt = lambda c: F.coalesce(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)), F.lit(0)
    ).cast("long")
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("total_assessments"),
        cnt(F.col("risk_level") == "high").alias("high_risk_tickers"),
        cnt(F.col("risk_level") == "medium").alias("medium_risk_tickers"),
        cnt(F.col("risk_level") == "low").alias("low_risk_tickers"),
        r6(F.avg("risk_score")).alias("avg_risk_score"),
        r6(F.avg("volatility_annual_pct")).alias("avg_volatility_pct"),
        r6(F.avg("max_drawdown_pct")).alias("avg_max_drawdown_pct"),
    )


ORACLE["llm_risk_assessment_report"] = _rar_oracle()


# ---------------------------------------------------------------------------
# Baseline snapshot comparison: file sha diff + metric A/B/delta table
# ---------------------------------------------------------------------------

# Reference `scripts/compare_baseline_snapshots.py`: two captured baseline
# snapshots are diffed on (a) their manifest file->sha256 maps per
# category — changed / added / removed buckets (`:62-73` `diff_files`) —
# and (b) a fixed metric-key table extracted from run_summary and
# horizon-backtest artifacts, reported as (A, B, delta) with delta only
# when both sides are numeric (`:115-124` `diff_metrics`). The part table
# plays the manifest file universe (p_name = path, md5 plays sha256;
# membership and content-drift are modular rules so every bucket has
# support), and the two snapshot arms split the round-trip trade world by
# customer parity so the metric table carries REAL aggregate deltas, not
# planted constants.


@query(
    "baseline_snapshot_file_diff",
    oracle="""
    WITH universe AS (
      SELECT p_partkey AS k, p_name,
             CASE WHEN p_partkey % 2 = 0 THEN 'configs' ELSE 'code' END
               AS category
      FROM part
    ),
    snap_a AS (
      SELECT category, p_name AS file, md5(p_name) AS sha
      FROM universe WHERE k % 11 <> 0
    ),
    snap_b AS (
      SELECT category, p_name AS file,
             CASE WHEN k % 7 = 0 THEN md5(p_name || ':v2')
                  ELSE md5(p_name) END AS sha
      FROM universe WHERE k % 13 <> 0
    ),
    joined AS (
      SELECT COALESCE(a.category, b.category) AS category,
             COALESCE(a.file, b.file) AS file,
             a.sha AS sha_a, b.sha AS sha_b
      FROM snap_a a FULL OUTER JOIN snap_b b
        ON a.category = b.category AND a.file = b.file
    )
    SELECT category,
           CASE WHEN sha_a IS NULL THEN 'added'
                WHEN sha_b IS NULL THEN 'removed'
                ELSE 'changed' END AS bucket,
           file, sha_a, sha_b
    FROM joined
    WHERE sha_a IS NULL OR sha_b IS NULL OR sha_a <> sha_b
    """,
)
def baseline_snapshot_file_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category manifest diff — reference
    `scripts/compare_baseline_snapshots.py:44-73` (`_file_sha_map` +
    `diff_files`): full-outer join of the two snapshots' file->sha maps,
    bucketed added (B only) / removed (A only) / changed (sha drift),
    per manifest category (configs, code).

    Scale: a single full-outer equi-join on (category, file) — the
    manifest key — with no window and no global sort; buckets are
    column logic on join-null patterns."""
    p = load_table(spark, sf_dir, "part")
    universe = p.select(
        F.col("p_partkey").alias("k"),
        "p_name",
        F.when(F.col("p_partkey") % 2 == 0, "configs")
        .otherwise("code")
        .alias("category"),
    )
    snap_a = universe.filter(F.col("k") % 11 != 0).select(
        "category",
        F.col("p_name").alias("file"),
        F.md5(F.col("p_name")).alias("sha_a"),
    )
    snap_b = universe.filter(F.col("k") % 13 != 0).select(
        "category",
        F.col("p_name").alias("file"),
        F.when(
            F.col("k") % 7 == 0,
            F.md5(F.concat(F.col("p_name"), F.lit(":v2"))),
        )
        .otherwise(F.md5(F.col("p_name")))
        .alias("sha_b"),
    )
    joined = snap_a.join(snap_b, ["category", "file"], "full_outer")
    return (
        joined.filter(
            F.col("sha_a").isNull()
            | F.col("sha_b").isNull()
            | (F.col("sha_a") != F.col("sha_b"))
        )
        .select(
            "category",
            F.when(F.col("sha_a").isNull(), "added")
            .when(F.col("sha_b").isNull(), "removed")
            .otherwise("changed")
            .alias("bucket"),
            "file",
            "sha_a",
            "sha_b",
        )
    )


_BSD_SQL = """
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey,
             SUM(l.l_quantity) AS cq,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l.l_discount AS DECIMAL(5,2))) AS cnet,
             MAX(l.l_shipdate) AS cship
      FROM lineitem l
      JOIN mx ON mx.l_orderkey = l.l_orderkey
             AND l.l_linenumber = mx.maxline
      GROUP BY l.l_orderkey
    ),
    opens AS (
      SELECT l_orderkey,
             SUM(l_quantity) AS oq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(5,2))) AS onet
      FROM lineitem
      WHERE l_linenumber = 1 AND l_returnflag <> 'R'
      GROUP BY l_orderkey
    ),
    tr AS (
      SELECT c.l_orderkey AS id,
             CASE WHEN o.o_custkey % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
             CAST(c.cship AS DATE) AS trade_date,
             ROUND(CAST(c.cnet - op.onet AS DOUBLE), 6) AS pnl,
             CAST(op.onet AS DOUBLE) AS capital
      FROM closes c
      JOIN opens op ON op.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND op.oq > 0 AND c.cq > 0
        AND CAST(op.onet AS DOUBLE) > 0
    ),
    dd AS (
      SELECT arm, MAX(peak - cum) AS max_drawdown FROM (
        SELECT arm, cum,
               MAX(cum) OVER (PARTITION BY arm
                              ORDER BY rn
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS peak
        FROM (
          SELECT arm, cum,
                 ROW_NUMBER() OVER (PARTITION BY arm
                                    ORDER BY trade_date, id) AS rn
          FROM (
            SELECT arm, trade_date, id,
                   SUM(pnl) OVER (PARTITION BY arm
                                  ORDER BY trade_date, id) AS cum
            FROM tr
          )
        )
      ) GROUP BY arm
    ),
    op_side AS (
      SELECT CASE WHEN o_custkey % 2 = 0 THEN 'a' ELSE 'b' END AS arm,
             CAST(COUNT(*) AS BIGINT) AS n_open,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS open_notional
      FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
    ),
    arms AS (
      SELECT t.arm,
             SUM(t.pnl) AS pnl_dollars,
             SUM(t.pnl) / SUM(t.capital) * 100 AS pnl_pct,
             CASE WHEN SUM(CASE WHEN t.pnl < 0 THEN -t.pnl END) > 0
                  THEN SUM(CASE WHEN t.pnl > 0 THEN t.pnl END)
                       / SUM(CASE WHEN t.pnl < 0 THEN -t.pnl END)
                  END AS profit_factor,
             AVG(CASE WHEN t.pnl > 0 THEN 1.0 ELSE 0.0 END) AS win_rate,
             CAST(COUNT(*) AS DOUBLE) AS trades,
             CAST(SUM(CASE WHEN t.pnl <> 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS realized_trades,
             100000 + SUM(t.pnl) AS cash,
             SQRT(AVG((t.pnl / t.capital) * (t.pnl / t.capital)))
               AS rmse_ensemble,
             STDDEV_POP(t.pnl / t.capital) AS rmse_baseline,
             AVG(CASE WHEN t.pnl / t.capital < -0.05
                      THEN 1.0 ELSE 0.0 END) AS fail_fraction,
             AVG(CASE WHEN t.pnl / t.capital < 0
                      THEN 1.0 ELSE 0.0 END) AS neg_exp_fraction,
             SUM(t.pnl / t.capital) AS total_return
      FROM tr t GROUP BY t.arm
    ),
    armx AS (
      SELECT a.arm,
             a.pnl_dollars, a.pnl_pct, a.profit_factor, a.win_rate,
             a.trades, a.realized_trades, a.cash,
             a.cash + CAST(COALESCE(o.open_notional, 0) AS DOUBLE) / 1000
               AS total_value,
             a.cash / (a.cash
                       + CAST(COALESCE(o.open_notional, 0) AS DOUBLE)
                         / 1000) AS cash_ratio,
             CAST(COALESCE(o.n_open, 0) AS DOUBLE) AS open_positions,
             a.rmse_ensemble, a.rmse_baseline,
             CASE WHEN a.rmse_baseline > 0
                  THEN a.rmse_ensemble / a.rmse_baseline END AS rmse_ratio,
             a.fail_fraction, a.neg_exp_fraction, a.total_return,
             d.max_drawdown
      FROM arms a
      LEFT JOIN op_side o ON o.arm = a.arm
      LEFT JOIN dd d ON d.arm = a.arm
    ),
    ab AS (
      SELECT x.*
      FROM (SELECT * FROM armx WHERE arm = 'a') x
    ),
    bb AS (
      SELECT x.*
      FROM (SELECT * FROM armx WHERE arm = 'b') x
    )
"""


_BSD_METRICS = [
    ("profitability.pnl_dollars", "pnl_dollars"),
    ("profitability.pnl_pct", "pnl_pct"),
    ("profitability.profit_factor", "profit_factor"),
    ("profitability.win_rate", "win_rate"),
    ("profitability.trades", "trades"),
    ("profitability.realized_trades", "realized_trades"),
    ("liquidity.cash", "cash"),
    ("liquidity.total_value", "total_value"),
    ("liquidity.cash_ratio", "cash_ratio"),
    ("liquidity.open_positions", "open_positions"),
    ("forecaster.rmse.ensemble", "rmse_ensemble"),
    ("forecaster.rmse.baseline", "rmse_baseline"),
    ("forecaster.rmse.ratio", "rmse_ratio"),
    ("quant.fail_fraction", "fail_fraction"),
    ("quant.negative_expected_profit_fraction", "neg_exp_fraction"),
    ("backtest.total_trades", "trades"),
    ("backtest.total_return", "total_return"),
    ("backtest.win_rate", "win_rate"),
    ("backtest.profit_factor", "profit_factor"),
    ("backtest.max_drawdown", "max_drawdown"),
]


def _bsd_metric_oracle() -> str:
    rows = "\n      UNION ALL\n".join(
        f"""      SELECT '{key}' AS metric,
             ROUND(ab.{col}, 6) AS a_val, ROUND(bb.{col}, 6) AS b_val,
             CASE WHEN ab.{col} IS NOT NULL AND bb.{col} IS NOT NULL
                  THEN ROUND(bb.{col} - ab.{col}, 6) END AS delta
      FROM ab CROSS JOIN bb"""
        for key, col in _BSD_METRICS
    )
    return f"{_BSD_SQL}\n{rows}"


@query("baseline_snapshot_metric_diff", oracle=_bsd_metric_oracle())
def baseline_snapshot_metric_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Snapshot metric A/B/delta table — reference
    `scripts/compare_baseline_snapshots.py:75-124`
    (`extract_run_metrics` + `extract_backtest_metrics` +
    `diff_metrics`): the fixed metric-key list over the
    profitability / liquidity / forecaster-rmse / quant-validation /
    horizon-backtest blocks, delta emitted only when both sides are
    numeric (profit_factor is NULL when an arm has no losses — the
    reference's 'n/a'). The two snapshots split the round-trip trade
    world by customer parity, so deltas are real aggregate drift, not
    planted constants; max_drawdown replays each arm's equity curve
    (running peak minus cumulative PnL).

    Scale: one lot-aggregation pass shared by both arms, one ordered
    window per arm for the drawdown (partitioned by arm), bounded
    2-row fold; the 20-row metric table is plan-side union of scalar
    selects."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    net = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(5,2)")
    # ONE pass over lineitem (guide §2.4): the old shape aggregated the
    # table three times (maxline, closes-after-join, opens) and joined
    # the pieces back together. The close legs are the rows at the
    # order's max linenumber (NOT unique in this data — tie rows are
    # summed exactly as the old join+groupBy did) and the open legs are
    # a conditional sum, so one window (maxline) + one groupBy on the
    # SAME key — a single exchange of the lineitem stream — produces the
    # identical (cq, cnet, cship, oq, onet) per order. Orders without a
    # qualifying open leg yield NULL oq/onet and are dropped by the same
    # filter that dropped them via the old inner join.
    wl = Window.partitionBy("l_orderkey")
    is_close_leg = F.col("l_linenumber") == F.max("l_linenumber").over(wl)
    is_open_leg = (F.col("l_linenumber") == 1) & (F.col("l_returnflag") != "R")
    legs = (
        li.withColumn("is_cl", is_close_leg)
        .groupBy("l_orderkey")
        .agg(
            F.sum(F.when(F.col("is_cl"), F.col("l_quantity"))).alias("cq"),
            F.sum(F.when(F.col("is_cl"), net)).alias("cnet"),
            F.max(F.when(F.col("is_cl"), F.col("l_shipdate"))).alias("cship"),
            F.sum(F.when(is_open_leg, F.col("l_quantity"))).alias("oq"),
            F.sum(F.when(is_open_leg, net)).alias("onet"),
        )
    )
    c = legs.alias("c")
    tr = (
        c.join(
            o.filter(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("c.l_orderkey"),
        )
        .filter(
            (F.col("oq") > 0)
            & (F.col("cq") > 0)
            & (F.col("onet").cast("double") > 0)
        )
        .select(
            F.col("c.l_orderkey").alias("id"),
            F.when(F.col("o_custkey") % 2 == 0, "a")
            .otherwise("b")
            .alias("arm"),
            F.to_date("cship").alias("trade_date"),
            F.round((F.col("cnet") - F.col("onet")).cast("double"), 6).alias(
                "pnl"
            ),
            F.col("onet").cast("double").alias("capital"),
        )
        .localCheckpoint()
    )
    wcum = Window.partitionBy("arm").orderBy("trade_date", "id")
    wpeak = wcum.rowsBetween(Window.unboundedPreceding, 0)
    dd = (
        tr.withColumn("cum", F.sum("pnl").over(wcum))
        .withColumn("peak", F.max("cum").over(wpeak))
        .groupBy("arm")
        .agg(F.max(F.col("peak") - F.col("cum")).alias("max_drawdown"))
    )
    r = F.col("pnl") / F.col("capital")
    arms = tr.groupBy("arm").agg(
        F.sum("pnl").alias("pnl_dollars"),
        (F.sum("pnl") / F.sum("capital") * 100).alias("pnl_pct"),
        F.when(
            F.sum(F.when(F.col("pnl") < 0, -F.col("pnl"))) > 0,
            F.sum(F.when(F.col("pnl") > 0, F.col("pnl")))
            / F.sum(F.when(F.col("pnl") < 0, -F.col("pnl"))),
        ).alias("profit_factor"),
        F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)).alias(
            "win_rate"
        ),
        F.count(F.lit(1)).cast("double").alias("trades"),
        F.sum(F.when(F.col("pnl") != 0, 1).otherwise(0))
        .cast("double")
        .alias("realized_trades"),
        (F.lit(100000) + F.sum("pnl")).alias("cash"),
        F.sqrt(F.avg(r * r)).alias("rmse_ensemble"),
        F.stddev_pop(r).alias("rmse_baseline"),
        F.avg(F.when(r < -0.05, 1.0).otherwise(0.0)).alias(
            "fail_fraction"
        ),
        F.avg(F.when(r < 0, 1.0).otherwise(0.0)).alias("neg_exp_fraction"),
        F.sum(r).alias("total_return"),
    )
    op_side = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(
            F.when(F.col("o_custkey") % 2 == 0, "a")
            .otherwise("b")
            .alias("arm")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_open"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "open_notional"
            ),
        )
    )
    tv = (
        F.col("cash")
        + F.coalesce(F.col("open_notional"), F.lit(0)).cast("double") / 1000
    )
    armx = (
        arms.join(op_side, "arm", "left")
        .join(dd, "arm", "left")
        .select(
            "arm",
            "pnl_dollars",
            "pnl_pct",
            "profit_factor",
            "win_rate",
            "trades",
            "realized_trades",
            "cash",
            tv.alias("total_value"),
            (F.col("cash") / tv).alias("cash_ratio"),
            F.coalesce(F.col("n_open"), F.lit(0))
            .cast("double")
            .alias("open_positions"),
            "rmse_ensemble",
            "rmse_baseline",
            F.when(
                F.col("rmse_baseline") > 0,
                F.col("rmse_ensemble") / F.col("rmse_baseline"),
            ).alias("rmse_ratio"),
            "fail_fraction",
            "neg_exp_fraction",
            "total_return",
            "max_drawdown",
        )
    )
    ab = armx.filter(F.col("arm") == "a")
    bb = armx.filter(F.col("arm") == "b")
    cols = [c for c in armx.columns if c != "arm"]
    # checkpoint AFTER the A/B cross: the 14 metric rows below then read
    # one pinned 1-row frame (instead of re-crossing a checkpointed armx
    # whose boundedness the plan audit cannot see), and the cross's
    # sides keep their arm-keyed Aggregate visible — a 2-value label
    # grain the audit recognizes as bounded
    joined = (
        ab.select(*[F.col(c).alias(f"a_{c}") for c in cols])
        .crossJoin(bb.select(*[F.col(c).alias(f"b_{c}") for c in cols]))
        .localCheckpoint()
    )
    out = None
    for key, col in _BSD_METRICS:
        a_c, b_c = F.col(f"a_{col}"), F.col(f"b_{col}")
        row = joined.select(
            F.lit(key).alias("metric"),
            r6(a_c).alias("a_val"),
            r6(b_c).alias("b_val"),
            F.when(
                a_c.isNotNull() & b_c.isNotNull(), r6(b_c - a_c)
            ).alias("delta"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Ticker-universe resolution: order-preserving merge + provider blocklist +
# validator census
# ---------------------------------------------------------------------------

# Reference `etl/data_universe.py:34-99` (`resolve_ticker_universe`),
# `etl/frontier_markets.py:88-110` (`_normalize` + `merge_frontier_tickers`:
# strip/upper normalization, order-preserving dedupe of the explicit list,
# frontier overlay appended in catalog order for symbols not yet seen) and
# `etl/ticker_discovery/ticker_validator.py:11-51` (`TickerValidator`:
# ^[A-Z0-9.\-]{1,10}$ regex, disallowed-prefix rule, keep-first dedupe in
# `filter_valid` where only VALID symbols enter the seen set). The nation x
# region tables play the frontier catalog ('F<nation>_<i>' per nation, two
# per market, ordered by nation key); the explicit base list comes from an
# orders sample in file order with planted lowercase/whitespace/frontier-
# overlap noise; the provider blocklist is the ASIA region's frontier
# symbols (the reference's yfinance Sri-Lanka blocklist equivalent,
# `data_universe.py:22-27`), applied to the MERGED list as the reference
# does — a base-origin symbol that collides with a blocked frontier symbol
# is dropped too.

_TUV_SQL = """
    WITH frontier AS (
      SELECT 'F' || CAST(n.n_nationkey AS VARCHAR) || '_'
               || CAST(i AS VARCHAR) AS ticker,
             r.r_name AS region,
             n.n_nationkey * 2 + i AS fpos,
             n.n_regionkey = 2 AS blocked
      FROM nation n
      JOIN region r ON r.r_regionkey = n.n_regionkey
      CROSS JOIN (SELECT UNNEST(ARRAY[1, 2]) AS i)
    ),
    base_raw AS (
      SELECT o_orderkey AS ord,
             CASE CAST(o_orderkey % 4 AS INT)
               WHEN 0 THEN 't' || CAST(o_custkey % 20 AS VARCHAR)
               WHEN 1 THEN ' T' || CAST(o_custkey % 20 AS VARCHAR) || ' '
               WHEN 2 THEN CASE WHEN o_orderkey % 50 = 2 THEN '   '
                                ELSE 'T' || CAST(o_custkey % 20 AS VARCHAR)
                                END
               ELSE CASE WHEN o_orderkey % 40 = 3
                         THEN 'F' || CAST(o_custkey % 25 AS VARCHAR)
                              || '_1'
                         ELSE 'T' || CAST(o_custkey % 20 AS VARCHAR) END
               END AS raw
      FROM orders WHERE o_orderkey % 10 < 3
    ),
    base_norm AS (
      SELECT ord, UPPER(TRIM(raw)) AS sym FROM base_raw
      WHERE UPPER(TRIM(raw)) <> ''
    ),
    base_first AS (
      SELECT sym, MIN(ord) AS first_ord FROM base_norm GROUP BY sym
    ),
    base_pos AS (
      SELECT sym, ROW_NUMBER() OVER (ORDER BY first_ord) AS mpos
      FROM base_first
    ),
    nbase AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base FROM base_pos),
    front_app AS (
      SELECT f.ticker AS sym, f.region, nb.n_base
             + ROW_NUMBER() OVER (ORDER BY f.fpos) AS mpos
      FROM frontier f CROSS JOIN nbase nb
      WHERE f.ticker NOT IN (SELECT sym FROM base_pos)
    ),
    merged AS (
      SELECT b.sym, 'base' AS origin, CAST(NULL AS VARCHAR) AS region,
             b.mpos
      FROM base_pos b
      UNION ALL
      SELECT fa.sym, 'frontier', fa.region, fa.mpos FROM front_app fa
    ),
    blocklist AS (
      SELECT ticker AS sym FROM frontier WHERE blocked
    ),
    finalu AS (
      SELECT m.sym, m.origin, m.region,
             ROW_NUMBER() OVER (ORDER BY m.mpos) AS position
      FROM merged m
      WHERE m.sym NOT IN (SELECT sym FROM blocklist)
    )
"""


@query(
    "ticker_universe_resolution",
    oracle=f"""
    {_TUV_SQL}
    SELECT CAST(position AS BIGINT) AS position, sym AS ticker, origin,
           region,
           'yfinance' AS active_source,
           'explicit+frontier' AS universe_source
    FROM finalu
    """,
)
@shared_small_frame
def ticker_universe_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolved ticker universe — reference
    `etl/data_universe.py:47-70` + `etl/frontier_markets.py:91-110`:
    normalize (strip/upper, drop empties), order-preserving dedupe of
    the explicit list, frontier catalog appended in order for unseen
    symbols, then the provider blocklist filter over the MERGED list
    with positions compressed.

    Scale: first-occurrence dedupe is a groupBy(min(ord)); the two
    global ranks order the UNIVERSE (bounded symbol cardinality, not
    the corpus); frontier and blocklist are nation-bounded broadcast
    dims."""
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    frontier = (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .crossJoin(
            F.broadcast(
                o.sparkSession.range(1, 3).select(
                    F.col("id").cast("int").alias("i")
                )
            )
        )
        .select(
            F.concat(
                F.lit("F"),
                F.col("n_nationkey").cast("string"),
                F.lit("_"),
                F.col("i").cast("string"),
            ).alias("ticker"),
            F.col("r_name").alias("region"),
            (F.col("n_nationkey") * 2 + F.col("i")).alias("fpos"),
            (F.col("n_regionkey") == 2).alias("blocked"),
        )
    )
    ck = (F.col("o_custkey") % 20).cast("string")
    raw = (
        F.when(F.col("o_orderkey") % 4 == 0, F.concat(F.lit("t"), ck))
        .when(
            F.col("o_orderkey") % 4 == 1,
            F.concat(F.lit(" T"), ck, F.lit(" ")),
        )
        .when(
            F.col("o_orderkey") % 4 == 2,
            F.when(F.col("o_orderkey") % 50 == 2, "   ").otherwise(
                F.concat(F.lit("T"), ck)
            ),
        )
        .otherwise(
            F.when(
                F.col("o_orderkey") % 40 == 3,
                F.concat(
                    F.lit("F"),
                    (F.col("o_custkey") % 25).cast("string"),
                    F.lit("_1"),
                ),
            ).otherwise(F.concat(F.lit("T"), ck))
        )
    )
    base_norm = (
        o.filter(F.col("o_orderkey") % 10 < 3)
        .select(
            F.col("o_orderkey").alias("ord"),
            F.upper(F.trim(raw)).alias("sym"),
        )
        .filter(F.col("sym") != "")
    )
    base_pos = (
        base_norm.groupBy("sym")
        .agg(F.min("ord").alias("first_ord"))
        .withColumn(
            "mpos", F.row_number().over(Window.orderBy("first_ord"))
        )
        .select("sym", "mpos")
        .localCheckpoint()
    )
    nbase = base_pos.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_base")
    )
    front_app = (
        frontier.join(base_pos, frontier.ticker == base_pos.sym, "left_anti")
        .crossJoin(F.broadcast(nbase))
        .withColumn(
            "mpos",
            F.col("n_base") + F.row_number().over(Window.orderBy("fpos")),
        )
        .select(
            F.col("ticker").alias("sym"),
            F.lit("frontier").alias("origin"),
            "region",
            "mpos",
        )
    )
    merged = base_pos.select(
        "sym",
        F.lit("base").alias("origin"),
        F.lit(None).cast("string").alias("region"),
        "mpos",
    ).unionByName(front_app)
    blocklist = frontier.filter(F.col("blocked")).select(
        F.col("ticker").alias("bsym")
    )
    return (
        merged.join(
            F.broadcast(blocklist),
            merged.sym == F.col("bsym"),
            "left_anti",
        )
        .withColumn(
            "position",
            F.row_number().over(Window.orderBy("mpos")).cast("bigint"),
        )
        .select(
            "position",
            F.col("sym").alias("ticker"),
            "origin",
            "region",
            F.lit("yfinance").alias("active_source"),
            F.lit("explicit+frontier").alias("universe_source"),
        )
    )


@query(
    "ticker_universe_summary",
    oracle=f"""
    {_TUV_SQL}
    , braw AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_raw FROM base_raw),
    bnorm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_normalized FROM base_norm
    ),
    bd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_base_deduped FROM base_pos),
    ft AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_frontier_total FROM frontier
    ),
    fa AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_frontier_appended
      FROM front_app
    ),
    blk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_blocked,
             STRING_AGG(m.sym, ',' ORDER BY m.sym) AS blocked_list
      FROM merged m WHERE m.sym IN (SELECT sym FROM blocklist)
    ),
    fin AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_final FROM finalu)
    SELECT braw.n_raw AS n_base_raw,
           bnorm.n_normalized AS n_base_normalized,
           bd.n_base_deduped,
           ft.n_frontier_total,
           fa.n_frontier_appended,
           blk.n_blocked,
           CASE WHEN blk.n_blocked > 0
                THEN 'yfinance: ' || blk.blocked_list END
             AS provider_blocklist_note,
           fin.n_final,
           'yfinance' AS active_source,
           'explicit+frontier' AS universe_source
    FROM braw CROSS JOIN bnorm CROSS JOIN bd CROSS JOIN ft
    CROSS JOIN fa CROSS JOIN blk CROSS JOIN fin
    """,
)
def ticker_universe_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universe-resolution censuses + the provider-blocklist note —
    reference `etl/data_universe.py:55-63`: the
    'provider: t1,t2,...' note built from the SORTED removed set, plus
    raw/normalized/deduped/frontier-appended/final counts.

    Scale: counts over the bounded symbol dimension; the note is a
    sorted string_agg over the blocked subset (nation-bounded)."""
    # the resolution frame is already a lazily-materialized shared frame
    # (shared_small_frame); no second eager checkpoint needed — the old
    # one ran the whole resolution pipeline as a build-time job
    res = ticker_universe_resolution(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    braw = o.filter(F.col("o_orderkey") % 10 < 3).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_base_raw")
    )
    ck = (F.col("o_custkey") % 20).cast("string")
    raw = (
        F.when(F.col("o_orderkey") % 4 == 0, F.concat(F.lit("t"), ck))
        .when(
            F.col("o_orderkey") % 4 == 1,
            F.concat(F.lit(" T"), ck, F.lit(" ")),
        )
        .when(
            F.col("o_orderkey") % 4 == 2,
            F.when(F.col("o_orderkey") % 50 == 2, "   ").otherwise(
                F.concat(F.lit("T"), ck)
            ),
        )
        .otherwise(
            F.when(
                F.col("o_orderkey") % 40 == 3,
                F.concat(
                    F.lit("F"),
                    (F.col("o_custkey") % 25).cast("string"),
                    F.lit("_1"),
                ),
            ).otherwise(F.concat(F.lit("T"), ck))
        )
    )
    base_norm = (
        o.filter(F.col("o_orderkey") % 10 < 3)
        .select(F.upper(F.trim(raw)).alias("sym"))
        .filter(F.col("sym") != "")
    ).localCheckpoint(eager=False)
    # one pass for the normalized and deduped counts (exact integer
    # counts of the same sets the two separate aggregates counted)
    bstats = base_norm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_base_normalized"),
        F.count_distinct(F.col("sym")).cast("bigint").alias("n_base_deduped"),
    ).localCheckpoint(eager=False)
    bnorm = bstats.select("n_base_normalized")
    bd = bstats.select("n_base_deduped")
    ft = n.crossJoin(
        o.sparkSession.range(1, 3)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_frontier_total"))
    blocked_syms = (
        n.filter(F.col("n_regionkey") == 2)
        .crossJoin(
            F.broadcast(
                o.sparkSession.range(1, 3).select(
                    F.col("id").cast("int").alias("i")
                )
            )
        )
        .select(
            F.concat(
                F.lit("F"),
                F.col("n_nationkey").cast("string"),
                F.lit("_"),
                F.col("i").cast("string"),
            ).alias("sym")
        )
    ).localCheckpoint(eager=False)
    merged_syms = base_norm.select("sym").distinct().unionByName(
        n.crossJoin(
            F.broadcast(
                o.sparkSession.range(1, 3).select(
                    F.col("id").cast("int").alias("i")
                )
            )
        )
        .select(
            F.concat(
                F.lit("F"),
                F.col("n_nationkey").cast("string"),
                F.lit("_"),
                F.col("i").cast("string"),
            ).alias("sym")
        )
        .join(base_norm.select("sym").distinct(), "sym", "left_anti")
    ).localCheckpoint(eager=False)  # symbol grain; feeds blk + fapp
    blk = (
        merged_syms.join(F.broadcast(blocked_syms), "sym", "left_semi")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocked"),
            F.array_join(
                F.array_sort(F.collect_list("sym")), ","
            ).alias("blocked_list"),
        )
    )
    fapp = merged_syms.join(
        base_norm.select("sym").distinct(), "sym", "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_frontier_appended"))
    fin = res.agg(F.count(F.lit(1)).cast("bigint").alias("n_final"))
    return (
        braw.crossJoin(bnorm)
        .crossJoin(bd)
        .crossJoin(ft)
        .crossJoin(fapp)
        .crossJoin(blk)
        .crossJoin(fin)
        .select(
            "n_base_raw",
            "n_base_normalized",
            "n_base_deduped",
            "n_frontier_total",
            "n_frontier_appended",
            "n_blocked",
            F.when(
                F.col("n_blocked") > 0,
                F.concat(F.lit("yfinance: "), F.col("blocked_list")),
            ).alias("provider_blocklist_note"),
            "n_final",
            F.lit("yfinance").alias("active_source"),
            F.lit("explicit+frontier").alias("universe_source"),
        )
    )


@query(
    "ticker_validator_census",
    oracle="""
    WITH cand AS (
      SELECT p_partkey AS ord,
             CASE CAST(p_partkey % 6 AS INT)
               WHEN 0 THEN 't' || CAST(p_partkey % 30 AS VARCHAR)
               WHEN 1 THEN ' T' || CAST(p_partkey % 30 AS VARCHAR) || ' '
               WHEN 2 THEN 'T$' || CAST(p_partkey % 30 AS VARCHAR)
               WHEN 3 THEN 'VERYLONGTICKER'
                           || CAST(p_partkey % 100 AS VARCHAR)
               WHEN 4 THEN 'ZZ' || CAST(p_partkey % 30 AS VARCHAR)
               ELSE '' END AS raw
      FROM part
    ),
    norm AS (
      SELECT ord, raw, UPPER(TRIM(raw)) AS normalized FROM cand
    ),
    judged AS (
      SELECT *,
             normalized <> ''
               AND regexp_matches(normalized, '^[A-Z0-9\\.\\-]{1,10}$')
               AND NOT normalized LIKE 'ZZ%' AS is_valid
      FROM norm
    ),
    ranked AS (
      SELECT *,
             CASE WHEN is_valid
                  THEN ROW_NUMBER() OVER (PARTITION BY is_valid, normalized
                                          ORDER BY ord) END AS vrank
      FROM judged
    ),
    verdicts AS (
      SELECT ord, raw, normalized,
             CASE WHEN normalized = '' THEN 'empty'
                  WHEN is_valid AND vrank > 1 THEN 'duplicate'
                  WHEN NOT regexp_matches(normalized,
                                          '^[A-Z0-9\\.\\-]{1,10}$')
                    THEN 'invalid_format'
                  WHEN normalized LIKE 'ZZ%' THEN 'prefix_blocked'
                  ELSE 'kept' END AS verdict
      FROM ranked
    ),
    kept_pos AS (
      SELECT ord, CAST(ROW_NUMBER() OVER (ORDER BY ord) AS BIGINT)
               AS kept_position
      FROM verdicts WHERE verdict = 'kept'
    )
    SELECT v.ord, v.raw, v.normalized, v.verdict, k.kept_position
    FROM verdicts v LEFT JOIN kept_pos k ON k.ord = v.ord
    """,
)
def ticker_validator_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate validator verdicts — reference
    `etl/ticker_discovery/ticker_validator.py:25-51`: normalize
    (upper/strip), the ^[A-Z0-9.\\-]{1,10}$ format rule, the
    disallowed-prefix rule, and `filter_valid`'s keep-first dedupe
    where only VALID symbols enter the seen set (an invalid duplicate
    stays classified by its own failure, not as 'duplicate'). Planted
    candidate shapes exercise every verdict: lowercase-valid,
    whitespace-valid, bad character, over-length, blocked prefix,
    empty.

    Scale: one regex pass + a per-normalized-symbol keep-first window
    (bounded key cardinality); the kept-position rank orders the kept
    UNIVERSE, not the corpus."""
    p = load_table(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    raw = (
        F.when(pk % 6 == 0, F.concat(F.lit("t"), (pk % 30).cast("string")))
        .when(
            pk % 6 == 1,
            F.concat(F.lit(" T"), (pk % 30).cast("string"), F.lit(" ")),
        )
        .when(pk % 6 == 2, F.concat(F.lit("T$"), (pk % 30).cast("string")))
        .when(
            pk % 6 == 3,
            F.concat(F.lit("VERYLONGTICKER"), (pk % 100).cast("string")),
        )
        .when(pk % 6 == 4, F.concat(F.lit("ZZ"), (pk % 30).cast("string")))
        .otherwise("")
    )
    norm = p.select(
        pk.alias("ord"),
        raw.alias("raw"),
        F.upper(F.trim(raw)).alias("normalized"),
    )
    fmt_ok = F.col("normalized").rlike(r"^[A-Z0-9\.\-]{1,10}$")
    judged = norm.withColumn(
        "is_valid",
        (F.col("normalized") != "")
        & fmt_ok
        & ~F.col("normalized").startswith("ZZ"),
    )
    wv = Window.partitionBy("is_valid", "normalized").orderBy("ord")
    ranked = judged.withColumn(
        "vrank",
        F.when(F.col("is_valid"), F.row_number().over(wv)),
    )
    verdicts = ranked.select(
        "ord",
        "raw",
        "normalized",
        F.when(F.col("normalized") == "", "empty")
        .when(F.col("is_valid") & (F.col("vrank") > 1), "duplicate")
        .when(~fmt_ok, "invalid_format")
        .when(F.col("normalized").startswith("ZZ"), "prefix_blocked")
        .otherwise("kept")
        .alias("verdict"),
    ).localCheckpoint()
    kept_pos = (
        verdicts.filter(F.col("verdict") == "kept")
        .select(
            "ord",
            F.row_number().over(Window.orderBy("ord")).cast("bigint").alias(
                "kept_position"
            ),
        )
    )
    return verdicts.join(kept_pos, "ord", "left")


# ---------------------------------------------------------------------------
# Dashboard forecast bundle: latest-date selection + price-scale rescaling
# ---------------------------------------------------------------------------

# Reference `etl/dashboard_loader.py:28-160` (`DashboardDataLoader`):
# forecasts are loaded for the LATEST forecast_date per ticker only
# (`:81-95` correlated MAX subquery), indexed to forecast_date + horizon
# days per model, and run through the `_needs_rescaling` heuristic
# (`:68-77`): when median(|forecast|) / |latest_close| < 0.2 the stored
# series is in return/delta space, and every value (and both CI bands)
# is shifted by +latest_close before display. The stored-forecast world
# plants one model per ticker in delta space so the heuristic has
# support; latest_close is the close price of the ticker's last round
# trip (deterministic (date, orderkey) tiebreak).

_FBR_SQL = """
    WITH mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey,
             SUM(l.l_quantity) AS cq,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l.l_discount AS DECIMAL(5,2))) AS cnet,
             MAX(l.l_shipdate) AS cship
      FROM lineitem l
      JOIN mx ON mx.l_orderkey = l.l_orderkey
             AND l.l_linenumber = mx.maxline
      GROUP BY l.l_orderkey
    ),
    px AS (
      SELECT 'T' || CAST(o.o_custkey % 25 AS VARCHAR) AS ticker,
             CAST(c.cship AS DATE) AS d, c.l_orderkey AS okey,
             ROUND(CAST(c.cnet AS DOUBLE) / c.cq, 6) AS close
      FROM closes c
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND c.cq > 0
    ),
    latest AS (
      SELECT ticker, close AS latest_close FROM (
        SELECT ticker, close,
               ROW_NUMBER() OVER (PARTITION BY ticker
                                  ORDER BY d DESC, okey DESC) AS rn
        FROM px
      ) WHERE rn = 1
    ),
    fc_raw AS (
      SELECT 'T' || CAST(o_custkey % 25 AS VARCHAR) AS ticker,
             CAST(o_orderdate AS DATE) AS forecast_date,
             o_orderkey AS fkey,
             CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'arima'
                  WHEN 1 THEN 'garch' ELSE 'ensemble' END AS model_type,
             CAST(1 + o_orderkey % 5 AS BIGINT) AS horizon,
             CAST(o_orderkey % 2 = 1 AND o_orderkey % 3 = 2 AS BOOLEAN)
               AS delta_space,
             ROUND(CAST(o_orderkey % 41 - 20 AS DOUBLE) / 410, 6) AS drift
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    fc_latest AS (
      SELECT f.* FROM fc_raw f
      JOIN (
        SELECT ticker, MAX(forecast_date) AS md
        FROM fc_raw GROUP BY ticker
      ) m ON m.ticker = f.ticker AND f.forecast_date = m.md
    ),
    fc AS (
      SELECT f.ticker, f.forecast_date, f.model_type, f.horizon, f.fkey,
             l.latest_close,
             CASE WHEN f.delta_space
                  THEN ROUND(l.latest_close * f.drift
                             * CAST(f.horizon AS DOUBLE), 6)
                  ELSE ROUND(l.latest_close
                             * (1 + f.drift * CAST(f.horizon AS DOUBLE)),
                             6) END AS forecast_value
      FROM fc_latest f JOIN latest l ON l.ticker = f.ticker
    ),
    med AS (
      SELECT ticker, model_type,
             MEDIAN(ABS(forecast_value)) AS median_abs
      FROM fc GROUP BY ticker, model_type
    ),
    flagged AS (
      SELECT f.*,
             CASE WHEN f.latest_close <> 0
                       AND m.median_abs / ABS(f.latest_close) < 0.2
                  THEN TRUE ELSE FALSE END AS needs_rescaling
      FROM fc f
      JOIN med m ON m.ticker = f.ticker AND m.model_type = f.model_type
    )
"""


@query(
    "forecast_bundle_rescaling",
    oracle=f"""
    {_FBR_SQL}
    SELECT ticker, model_type, horizon, forecast_date,
           forecast_date + CAST(horizon AS INT) AS target_date,
           forecast_value,
           ROUND(latest_close, 6) AS latest_close,
           needs_rescaling,
           ROUND(CASE WHEN needs_rescaling
                      THEN forecast_value + latest_close
                      ELSE forecast_value END, 6) AS display_value
    FROM flagged
    """,
)
def forecast_bundle_rescaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-forecast bundle with the scale-mismatch shift — reference
    `etl/dashboard_loader.py:68-160`: only the latest forecast_date per
    ticker survives, each (ticker, model) series is indexed to
    forecast_date + horizon, and when median(|forecast|) falls below
    20% of |latest_close| the series is treated as delta-space and
    shifted by +latest_close for display (`_needs_rescaling` +
    `get_forecast_bundle`). One model per ticker is planted in delta
    space so both branches carry rows.

    Scale: latest-date selection is a per-ticker groupBy-max join (no
    global sort); the per-(ticker, model) median runs over exactly the
    horizon set (bounded 5 rows per group); latest_close is a
    per-ticker rank-1 window."""
    o = load_table(spark, sf_dir, "orders")
    px = (
        _trade_legs(spark, sf_dir, decimal_net=True)
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter((F.col("o_orderstatus") == "F") & (F.col("cq") > 0))
        .select(
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string"))
            .alias("ticker"),
            F.to_date("cship").alias("d"),
            F.col("l_orderkey").alias("okey"),
            r6(F.col("cnet").cast("double") / F.col("cq")).alias("close"),
        )
    )
    wl = Window.partitionBy("ticker").orderBy(
        F.col("d").desc(), F.col("okey").desc()
    )
    latest = (
        px.withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") == 1)
        .select("ticker", F.col("close").alias("latest_close"))
    )
    ok = F.col("o_orderkey")
    fc_raw = o.filter(ok % 7 == 0).select(
        F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string"))
        .alias("ticker"),
        F.to_date("o_orderdate").alias("forecast_date"),
        ok.alias("fkey"),
        F.when(ok % 3 == 0, "arima")
        .when(ok % 3 == 1, "garch")
        .otherwise("ensemble")
        .alias("model_type"),
        (F.lit(1) + ok % 5).cast("bigint").alias("horizon"),
        ((ok % 2 == 1) & (ok % 3 == 2)).alias("delta_space"),
        r6((ok % 41 - 20).cast("double") / 410).alias("drift"),
    )
    fc_latest = fc_raw.join(
        fc_raw.groupBy("ticker").agg(
            F.max("forecast_date").alias("forecast_date")
        ),
        ["ticker", "forecast_date"],
    )
    h = F.col("horizon").cast("double")
    fc = (
        fc_latest.join(latest, "ticker")
        .withColumn(
            "forecast_value",
            F.when(
                F.col("delta_space"),
                r6(F.col("latest_close") * F.col("drift") * h),
            ).otherwise(
                r6(F.col("latest_close") * (1 + F.col("drift") * h))
            ),
        )
        .localCheckpoint()
    )
    med = fc.groupBy("ticker", "model_type").agg(
        F.expr("percentile(ABS(forecast_value), 0.5)").alias("median_abs")
    )
    flagged = fc.join(med, ["ticker", "model_type"]).withColumn(
        "needs_rescaling",
        F.when(
            (F.col("latest_close") != 0)
            & (
                F.col("median_abs") / F.abs(F.col("latest_close"))
                < 0.2
            ),
            F.lit(True),
        ).otherwise(F.lit(False)),
    )
    return flagged.select(
        "ticker",
        "model_type",
        "horizon",
        "forecast_date",
        F.expr(
            "date_add(forecast_date, CAST(horizon AS INT))"
        ).alias("target_date"),
        "forecast_value",
        r6(F.col("latest_close")).alias("latest_close"),
        "needs_rescaling",
        r6(
            F.when(
                F.col("needs_rescaling"),
                F.col("forecast_value") + F.col("latest_close"),
            ).otherwise(F.col("forecast_value"))
        ).alias("display_value"),
    )


@query(
    "order_learner_purge_plan",
    oracle="""
    WITH stats AS (
      SELECT o_orderkey AS id,
             CASE CAST(o_orderkey % 8 AS INT)
               WHEN 0 THEN 'T' || CAST(o_custkey % 25 AS VARCHAR)
               WHEN 1 THEN 'close'
               WHEN 2 THEN 'Adj_Close'
               WHEN 3 THEN 'NONE'
               WHEN 4 THEN 'NaN'
               WHEN 5 THEN '  '
               WHEN 6 THEN ' returns '
               ELSE 'T' || CAST(o_custkey % 25 AS VARCHAR) END AS ticker,
             CASE CAST(o_orderkey % 3 AS INT) WHEN 0 THEN 'arima'
                  WHEN 1 THEN 'garch' ELSE 'sarimax' END AS model_type,
             CASE CAST(o_orderkey % 4 AS INT) WHEN 0 THEN 'TRENDING'
                  WHEN 1 THEN 'VOLATILE' WHEN 2 THEN 'NEUTRAL'
                  ELSE '' END AS regime,
             CAST(1 + o_orderkey % 9 AS BIGINT) AS n_fits,
             ROUND(CAST(o_orderkey % 97 AS DOUBLE) * 10 + 100, 6)
               AS best_aic
      FROM orders WHERE o_orderkey % 9 = 5
    ),
    judged AS (
      SELECT *,
             TRIM(ticker) AS candidate,
             LOWER(TRIM(REPLACE(TRIM(ticker), '_', ' '))) AS normalized
      FROM stats
    )
    SELECT id, ticker, model_type, regime, n_fits, best_aic,
           CASE WHEN candidate = '' THEN 'empty'
                WHEN UPPER(candidate) IN ('NONE', 'NAN') THEN 'none_nan'
                ELSE 'generic_label' END AS reason
    FROM judged
    WHERE candidate = ''
       OR UPPER(candidate) IN ('NONE', 'NAN')
       OR normalized IN ('close', 'adj close', 'adj_close', 'open',
                         'high', 'low', 'price', 'returns', 'return')
    """,
)
def order_learner_purge_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalid cache-identity purge plan — reference
    `scripts/purge_invalid_order_learner_rows.py:29-75` +
    `forcester_ts/order_learner.py:86-97` (`_clean_ticker_key`): a
    model-order-stats row is purgeable when its ticker label is empty
    after strip, literal NONE/NAN (case-insensitive), or a generic
    series label (close / adj close / open / high / low / price /
    returns — underscores folded to spaces, lowered) — generic labels
    must never become warm-start cache identities. Dry-run plan grain:
    the rows the --apply mode would delete, with the failing rule.

    Scale: a single filtered projection — pure column logic, no
    shuffle at all."""
    o = load_table(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    ticker = (
        F.when(
            ok % 8 == 0,
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string")),
        )
        .when(ok % 8 == 1, "close")
        .when(ok % 8 == 2, "Adj_Close")
        .when(ok % 8 == 3, "NONE")
        .when(ok % 8 == 4, "NaN")
        .when(ok % 8 == 5, "  ")
        .when(ok % 8 == 6, " returns ")
        .otherwise(
            F.concat(F.lit("T"), (F.col("o_custkey") % 25).cast("string"))
        )
    )
    stats = o.filter(ok % 9 == 5).select(
        ok.alias("id"),
        ticker.alias("ticker"),
        F.when(ok % 3 == 0, "arima")
        .when(ok % 3 == 1, "garch")
        .otherwise("sarimax")
        .alias("model_type"),
        F.when(ok % 4 == 0, "TRENDING")
        .when(ok % 4 == 1, "VOLATILE")
        .when(ok % 4 == 2, "NEUTRAL")
        .otherwise("")
        .alias("regime"),
        (F.lit(1) + ok % 9).cast("bigint").alias("n_fits"),
        r6((ok % 97).cast("double") * 10 + 100).alias("best_aic"),
    )
    cand = F.trim(F.col("ticker"))
    norm = F.lower(F.trim(F.regexp_replace(cand, "_", " ")))
    generic = [
        "close",
        "adj close",
        "adj_close",
        "open",
        "high",
        "low",
        "price",
        "returns",
        "return",
    ]
    return (
        stats.withColumn("candidate", cand)
        .withColumn("normalized", norm)
        .filter(
            (F.col("candidate") == "")
            | F.upper(F.col("candidate")).isin("NONE", "NAN")
            | F.col("normalized").isin(*generic)
        )
        .select(
            "id",
            "ticker",
            "model_type",
            "regime",
            "n_fits",
            "best_aic",
            F.when(F.col("candidate") == "", "empty")
            .when(
                F.upper(F.col("candidate")).isin("NONE", "NAN"), "none_nan"
            )
            .otherwise("generic_label")
            .alias("reason"),
        )
    )


# ---------------------------------------------------------------------------
# Production forecast-audit sanitization (sanitize_production_forecast_audits)
# ---------------------------------------------------------------------------

# Reference `scripts/sanitize_production_forecast_audits.py`: two
# classification rules over the production audit directory —
# (1) RMSE-only relocation (`classify_rmse_only_relocation:100-121`): an
# artifact with NO trade metadata (`_has_trade_metadata:71-86`: run_id /
# entry_ts / ts_signal_id / expected_close_ts / signal_executed all absent)
# but WITH rmse-only markers (`_has_rmse_only_markers:89-97`) whose event
# type is blank or FORECAST_AUDIT — or whose evidence context is already
# stamped RMSE_ONLY — belongs in the eval directory (EXPLICIT vs LEGACY
# reason split on the stamp); (2) suspect time-indexing
# (`classify_audit:155-202`): for TRADE-context TRADE_FORECAST_AUDIT rows
# (blank event type DEFAULTS to TRADE_FORECAST_AUDIT — the `or` chain),
# the entry-vs-dataset-end gap beyond +7.0 / below -1.0 days flags
# ENTRY_AFTER_DATASET_END_EXCESSIVE / ENTRY_BEFORE_DATASET_END, and with
# require_missing_expected_close_source=True (the default) a row is only
# quarantine-suspect when it ALSO lacks an expected-close source
# (MISSING_EXPECTED_CLOSE_SOURCE appended). The summary payload counts
# reason codes over SUSPECTS only (`:315-317`).
#
# Engine mapping: one audit record per order; the JSON metadata fields the
# reference probes are synthesized per-record from salted md5 draws (the
# repo's portable hash family), and the entry-vs-end gap is drawn directly
# in days on a 0.1-day grid spanning both thresholds, so every branch of
# both classifiers is live at any SF.
_SAN_POS_GAP = 7.0   # max_positive_gap_days default
_SAN_NEG_GAP = 1.0   # max_negative_gap_days default


def _san_hash(salt: str, col, mod: int):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "|"), col.cast("string"))), 1, 6
            ),
            16,
            10,
        ).cast("long")
        % mod
    )


def _san_hash_sql(salt: str, mod: int) -> str:
    return (
        f"('0x' || SUBSTR(MD5('{salt}|' || CAST(o_orderkey AS VARCHAR)), "
        f"1, 6))::BIGINT % {mod}"
    )


@session_frame_cache
def _san_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-audit classification frame for the sanitization queries."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.select(
        k.alias("audit_id"),
        (_san_hash("sanr", k, 5) != 0).alias("run_id_present"),
        (_san_hash("sane", k, 6) != 0).alias("entry_present"),
        (_san_hash("sanm", k, 3) != 0).alias("rmse_markers"),
        F.when(_san_hash("sanv", k, 4) == 0, "")
        .when(_san_hash("sanv", k, 4) == 1, "FORECAST_AUDIT")
        .otherwise("TRADE_FORECAST_AUDIT")
        .alias("event_type"),
        (_san_hash("sanc", k, 10) == 0).alias("evidence_rmse_only"),
        F.when(_san_hash("sanx", k, 8) == 0, "RESEARCH")
        .otherwise("TRADE")
        .alias("context_type"),
        ((_san_hash("sang", k, 200) - 40) / 10.0).alias("gap_raw"),
        (_san_hash("sans", k, 3) != 0).alias("close_source_present"),
    )
    trade_meta = F.col("run_id_present") | F.col("entry_present")
    gap = F.when(F.col("entry_present"), F.col("gap_raw"))
    rmse_only = (
        (~trade_meta)
        & F.col("rmse_markers")
        & (
            F.col("event_type").isin("", "FORECAST_AUDIT")
            | F.col("evidence_rmse_only")
        )
    )
    event_eff = F.when(
        F.col("event_type") == "", "TRADE_FORECAST_AUDIT"
    ).otherwise(F.col("event_type"))
    in_scope = (
        (~rmse_only)
        & (F.col("context_type") == "TRADE")
        & (event_eff == "TRADE_FORECAST_AUDIT")
        & gap.isNotNull()
    )
    after_f = in_scope & (gap > _SAN_POS_GAP)
    before_f = in_scope & (gap < -_SAN_NEG_GAP)
    time_reason = after_f | before_f
    suspect = time_reason & (~F.col("close_source_present"))
    return base.select(
        "audit_id",
        rmse_only.alias("rmse_only"),
        F.when(
            rmse_only & F.col("evidence_rmse_only"),
            "EXPLICIT_RMSE_ONLY_PRODUCTION_ARTIFACT",
        )
        .when(rmse_only, "LEGACY_RMSE_ONLY_PRODUCTION_ARTIFACT")
        .alias("rmse_reason"),
        after_f.alias("after_f"),
        before_f.alias("before_f"),
        suspect.alias("suspect"),
        gap.alias("gap_days"),
        F.when(F.col("close_source_present"), "atr_exit").alias(
            "close_source"
        ),
        # 2 member queries; md5-ladder projections over orders —
        # materialize once (optimization round 12, guide §2.4)
    ).localCheckpoint(eager=False)


_SAN_FRAME_SQL = f"""
      SELECT o_orderkey AS audit_id,
             ({_san_hash_sql('sanr', 5)}) <> 0 AS run_id_present,
             ({_san_hash_sql('sane', 6)}) <> 0 AS entry_present,
             ({_san_hash_sql('sanm', 3)}) <> 0 AS rmse_markers,
             CASE ({_san_hash_sql('sanv', 4)})
               WHEN 0 THEN '' WHEN 1 THEN 'FORECAST_AUDIT'
               ELSE 'TRADE_FORECAST_AUDIT' END AS event_type,
             ({_san_hash_sql('sanc', 10)}) = 0 AS evidence_rmse_only,
             CASE WHEN ({_san_hash_sql('sanx', 8)}) = 0 THEN 'RESEARCH'
                  ELSE 'TRADE' END AS context_type,
             (({_san_hash_sql('sang', 200)}) - 40) / 10.0 AS gap_raw,
             ({_san_hash_sql('sans', 3)}) <> 0 AS close_source_present
      FROM orders
"""

_SAN_CLASS_SQL = f"""
    WITH base AS ({_SAN_FRAME_SQL}),
    cls AS (
      SELECT audit_id,
             (NOT (run_id_present OR entry_present)) AND rmse_markers
               AND (event_type IN ('', 'FORECAST_AUDIT')
                    OR evidence_rmse_only) AS rmse_only,
             evidence_rmse_only,
             CASE WHEN event_type = '' THEN 'TRADE_FORECAST_AUDIT'
                  ELSE event_type END AS event_eff,
             context_type,
             CASE WHEN entry_present THEN gap_raw END AS gap_days,
             close_source_present
      FROM base
    ),
    c2 AS (
      SELECT audit_id, rmse_only,
             CASE WHEN rmse_only AND evidence_rmse_only
                  THEN 'EXPLICIT_RMSE_ONLY_PRODUCTION_ARTIFACT'
                  WHEN rmse_only
                  THEN 'LEGACY_RMSE_ONLY_PRODUCTION_ARTIFACT' END
               AS rmse_reason,
             (NOT rmse_only) AND context_type = 'TRADE'
               AND event_eff = 'TRADE_FORECAST_AUDIT'
               AND gap_days IS NOT NULL
               AND gap_days > {_SAN_POS_GAP} AS after_f,
             (NOT rmse_only) AND context_type = 'TRADE'
               AND event_eff = 'TRADE_FORECAST_AUDIT'
               AND gap_days IS NOT NULL
               AND gap_days < -{_SAN_NEG_GAP} AS before_f,
             gap_days, close_source_present,
             CASE WHEN close_source_present THEN 'atr_exit' END
               AS close_source
      FROM cls
    ),
    c3 AS (
      SELECT *, (after_f OR before_f) AND NOT close_source_present
               AS suspect
      FROM c2
    )
"""


@query(
    "audit_sanitization_census",
    oracle=f"""
    {_SAN_CLASS_SQL},
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS scanned,
             CAST(SUM(CASE WHEN rmse_only THEN 1 ELSE 0 END) AS BIGINT)
               AS rmse_n,
             CAST(SUM(CASE WHEN suspect THEN 1 ELSE 0 END) AS BIGINT)
               AS susp_n,
             CAST(SUM(CASE WHEN suspect AND after_f THEN 1 ELSE 0 END)
                  AS BIGINT) AS after_n,
             CAST(SUM(CASE WHEN suspect AND before_f THEN 1 ELSE 0 END)
                  AS BIGINT) AS before_n,
             CAST(SUM(CASE WHEN rmse_reason LIKE 'EXPLICIT%' THEN 1
                           ELSE 0 END) AS BIGINT) AS expl_n,
             CAST(SUM(CASE WHEN rmse_reason LIKE 'LEGACY%' THEN 1
                           ELSE 0 END) AS BIGINT) AS leg_n
      FROM c3
    )
    SELECT row_kind, key, n FROM (
      SELECT 'total' AS row_kind, 'audits_scanned' AS key, scanned AS n
        FROM t
      UNION ALL
      SELECT 'total', 'rmse_only_candidates', rmse_n FROM t
      UNION ALL
      SELECT 'total', 'suspects', susp_n FROM t
      UNION ALL
      SELECT 'reason_code', 'ENTRY_AFTER_DATASET_END_EXCESSIVE', after_n
        FROM t WHERE after_n > 0
      UNION ALL
      SELECT 'reason_code', 'ENTRY_BEFORE_DATASET_END', before_n
        FROM t WHERE before_n > 0
      UNION ALL
      SELECT 'reason_code', 'MISSING_EXPECTED_CLOSE_SOURCE', susp_n
        FROM t WHERE susp_n > 0
      UNION ALL
      SELECT 'rmse_only_reason', 'EXPLICIT_RMSE_ONLY_PRODUCTION_ARTIFACT',
             expl_n FROM t WHERE expl_n > 0
      UNION ALL
      SELECT 'rmse_only_reason', 'LEGACY_RMSE_ONLY_PRODUCTION_ARTIFACT',
             leg_n FROM t WHERE leg_n > 0
    ) u
    """,
)
def audit_sanitization_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summary census of the production-audit sanitizer — reference
    `scripts/sanitize_production_forecast_audits.py:220-327`
    (`sanitize_production_forecast_audits` totals + `reason_code_counts`
    over suspects only + `rmse_only_reason_counts`), dry-run semantics
    (apply=False: nothing quarantined or relocated). Reason-code rows are
    emitted only when non-zero, mirroring the reference's `Counter`.
    The whole census is one map-side-combinable aggregate over the
    synthesized audit frame — a single bounded-output reduction at any
    scale."""
    c = _san_frame(spark, sf_dir)
    t = c.agg(
        F.count(F.lit(1)).cast("long").alias("scanned"),
        F.sum(F.col("rmse_only").cast("int")).cast("long").alias("rmse_n"),
        F.sum(F.col("suspect").cast("int")).cast("long").alias("susp_n"),
        F.sum((F.col("suspect") & F.col("after_f")).cast("int"))
        .cast("long")
        .alias("after_n"),
        F.sum((F.col("suspect") & F.col("before_f")).cast("int"))
        .cast("long")
        .alias("before_n"),
        F.sum(F.col("rmse_reason").startswith("EXPLICIT").cast("int"))
        .cast("long")
        .alias("expl_n"),
        F.sum(F.col("rmse_reason").startswith("LEGACY").cast("int"))
        .cast("long")
        .alias("leg_n"),
    )
    # one aggregate row -> 8 census rows via stack (single scan), the
    # gated (Counter-style) rows filtered to non-zero counts
    stacked = t.select(
        F.expr(
            "stack(8, "
            "'total', 'audits_scanned', scanned, 0, "
            "'total', 'rmse_only_candidates', rmse_n, 0, "
            "'total', 'suspects', susp_n, 0, "
            "'reason_code', 'ENTRY_AFTER_DATASET_END_EXCESSIVE', after_n, 1, "
            "'reason_code', 'ENTRY_BEFORE_DATASET_END', before_n, 1, "
            "'reason_code', 'MISSING_EXPECTED_CLOSE_SOURCE', susp_n, 1, "
            "'rmse_only_reason', 'EXPLICIT_RMSE_ONLY_PRODUCTION_ARTIFACT', "
            "expl_n, 1, "
            "'rmse_only_reason', 'LEGACY_RMSE_ONLY_PRODUCTION_ARTIFACT', "
            "leg_n, 1) AS (row_kind, key, n, gated)"
        )
    )
    return stacked.filter((F.col("gated") == 0) | (F.col("n") > 0)).drop(
        "gated"
    )


@query(
    "audit_sanitization_examples",
    oracle=f"""
    {_SAN_CLASS_SQL},
    susp AS (
      SELECT 'suspect' AS classification, audit_id,
             CONCAT_WS(',',
               CASE WHEN after_f THEN 'ENTRY_AFTER_DATASET_END_EXCESSIVE'
                    END,
               CASE WHEN before_f THEN 'ENTRY_BEFORE_DATASET_END' END,
               'MISSING_EXPECTED_CLOSE_SOURCE') AS reason_codes,
             ROUND(gap_days, 6) AS gap_days, close_source,
             ROW_NUMBER() OVER (ORDER BY audit_id) AS rk
      FROM c3 WHERE suspect
    ),
    ro AS (
      SELECT 'rmse_only' AS classification, audit_id,
             rmse_reason AS reason_codes,
             CAST(NULL AS DOUBLE) AS gap_days,
             CAST(NULL AS VARCHAR) AS close_source,
             ROW_NUMBER() OVER (ORDER BY audit_id) AS rk
      FROM c3 WHERE rmse_only
    )
    SELECT classification, audit_id, reason_codes, gap_days, close_source
    FROM (SELECT * FROM susp WHERE rk <= 25
          UNION ALL
          SELECT * FROM ro WHERE rk <= 25) u
    """,
)
def audit_sanitization_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sanitizer's bounded example lists — reference
    `scripts/sanitize_production_forecast_audits.py:318-321`
    (`suspect_examples`/`rmse_only_examples`: first 25 rows of each class
    in file order; file order = audit id here). Reason codes join in the
    reference's append order (after / before / missing). Top-25-per-class
    is a TakeOrdered per branch — no global sort."""
    c = _san_frame(spark, sf_dir)
    susp = (
        c.filter(F.col("suspect"))
        .orderBy("audit_id")
        .limit(25)
        .select(
            F.lit("suspect").alias("classification"),
            "audit_id",
            F.concat_ws(
                ",",
                F.when(
                    F.col("after_f"), "ENTRY_AFTER_DATASET_END_EXCESSIVE"
                ),
                F.when(F.col("before_f"), "ENTRY_BEFORE_DATASET_END"),
                F.lit("MISSING_EXPECTED_CLOSE_SOURCE"),
            ).alias("reason_codes"),
            r6(F.col("gap_days")).alias("gap_days"),
            "close_source",
        )
    )
    ro = (
        c.filter(F.col("rmse_only"))
        .orderBy("audit_id")
        .limit(25)
        .select(
            F.lit("rmse_only").alias("classification"),
            "audit_id",
            F.col("rmse_reason").alias("reason_codes"),
            F.lit(None).cast("double").alias("gap_days"),
            F.lit(None).cast("string").alias("close_source"),
        )
    )
    return susp.unionAll(ro)


# ---------------------------------------------------------------------------
# Read-only quality-pipeline status contract (run_quality_pipeline.py)
# ---------------------------------------------------------------------------

# Reference `scripts/run_quality_pipeline.py:64-232`: chain the five
# read-only quality steps and fold per-step PASS/WARN/ERROR statuses into
# one contract — eligibility (warn on no_tickers_found /
# zero_healthy_tickers, `:86-90`), the eligibility gate application
# (lab-only census, always gate_written, `apply_ticker_eligibility_gates
# .py:44-67`), context quality (partial_data warn, `:139`), data
# sufficiency (insufficient_data warn / data_error, `:160-168`), chart
# generation (error when nothing to chart), then overall ERROR > WARN >
# PASS (`:205-210`). Statuses derive from the engine's own component
# frames (R62/R71/R63/chart-data queries).
_QPS_VERSION = "2026.03.03.2"


@query("quality_pipeline_status")
def quality_pipeline_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R151: the one-JSON quality-pipeline contract as six rows (five
    steps + the overall fold) with deterministic warning-code strings.
    Composition of four bounded component aggregates."""
    from .queries import QUERIES as _Q

    el = _Q["ticker_eligibility_classification"](spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_tickers"),
        F.sum((F.col("status") == "HEALTHY").cast("int"))
        .cast("long")
        .alias("n_healthy"),
        F.sum((F.col("status") == "LAB_ONLY").cast("int"))
        .cast("long")
        .alias("n_lab_only"),
    )
    ds = _Q["data_sufficiency_report"](spark, sf_dir).select(
        F.col("status").alias("ds_status")
    )
    cq = _Q["context_quality_report"](spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("cq_rows")
    )
    pc = _Q["performance_chart_data"](spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("pc_rows")
    )
    # one-row fold of the four component aggregates; localCheckpoint so
    # the six downstream step rows reuse it instead of replaying the
    # whole component plan per row (plan hygiene: EXCHANGES 169 → ~6)
    # lazy: the one-row fold materializes inside the timed action (the
    # eager variant ran the whole component plan as a build-time job —
    # optimization round 12, same finding as llm_signal_backtest B4.3)
    base = (
        el.crossJoin(F.broadcast(ds))
        .crossJoin(F.broadcast(cq))
        .crossJoin(F.broadcast(pc))
    ).localCheckpoint(eager=False)
    w_el = F.concat_ws(
        ",",
        F.when(F.col("n_tickers") == 0, "no_tickers_found"),
        F.when(F.col("n_healthy") == 0, "zero_healthy_tickers"),
    )
    n_w_el = (
        (F.col("n_tickers") == 0).cast("int")
        + (F.col("n_healthy") == 0).cast("int")
    ).cast("long")
    w_ds = F.when(F.col("ds_status") != "SUFFICIENT", "insufficient_data")
    ds_err = F.col("ds_status") == "DATA_ERROR"
    w_cq = F.when(F.col("cq_rows") == 0, "partial_data")
    pc_err = F.col("pc_rows") == 0

    def _status(warn_n, err):
        return (
            F.when(err, "ERROR").when(warn_n > 0, "WARN").otherwise("PASS")
        )

    rows = []
    rows.append(
        base.select(
            F.lit("compute_ticker_eligibility").alias("step"),
            _status(n_w_el, F.lit(False)).alias("status"),
            n_w_el.alias("n_warnings"),
            w_el.alias("warning_codes"),
            F.concat(
                F.lit("n_tickers="),
                F.col("n_tickers").cast("string"),
                F.lit(" healthy="),
                F.col("n_healthy").cast("string"),
            ).alias("detail"),
        )
    )
    rows.append(
        base.select(
            F.lit("apply_ticker_eligibility_gates").alias("step"),
            F.lit("PASS").alias("status"),
            F.lit(0).cast("long").alias("n_warnings"),
            F.lit("").alias("warning_codes"),
            F.concat(
                F.lit("lab_only="),
                F.col("n_lab_only").cast("string"),
                F.lit(" gate_written=true"),
            ).alias("detail"),
        )
    )
    rows.append(
        base.select(
            F.lit("compute_context_quality").alias("step"),
            _status(
                (F.col("cq_rows") == 0).cast("long"), F.lit(False)
            ).alias("status"),
            (F.col("cq_rows") == 0).cast("long").alias("n_warnings"),
            F.coalesce(w_cq, F.lit("")).alias("warning_codes"),
            F.concat(F.lit("rows="), F.col("cq_rows").cast("string")).alias(
                "detail"
            ),
        )
    )
    rows.append(
        base.select(
            F.lit("data_sufficiency_monitor").alias("step"),
            _status(
                (F.col("ds_status") != "SUFFICIENT").cast("long"), ds_err
            ).alias("status"),
            (F.col("ds_status") != "SUFFICIENT").cast("long").alias(
                "n_warnings"
            ),
            F.coalesce(w_ds, F.lit("")).alias("warning_codes"),
            F.col("ds_status").alias("detail"),
        )
    )
    rows.append(
        base.select(
            F.lit("generate_performance_charts").alias("step"),
            _status(F.lit(0), pc_err).alias("status"),
            F.lit(0).cast("long").alias("n_warnings"),
            F.lit("").alias("warning_codes"),
            F.concat(F.lit("rows="), F.col("pc_rows").cast("string")).alias(
                "detail"
            ),
        )
    )
    steps = rows[0]
    for r in rows[1:]:
        steps = steps.unionByName(r)
    overall = steps.agg(
        F.sum((F.col("status") == "ERROR").cast("int")).alias("n_err"),
        F.sum((F.col("status") == "WARN").cast("int")).alias("n_warn"),
        F.sum("n_warnings").cast("long").alias("tot_w"),
    ).select(
        F.lit("overall").alias("step"),
        F.when(F.col("n_err") > 0, "ERROR")
        .when(F.col("n_warn") > 0, "WARN")
        .otherwise("PASS")
        .alias("status"),
        F.col("tot_w").alias("n_warnings"),
        F.lit("").alias("warning_codes"),
        F.lit(f"pipeline_version={_QPS_VERSION} steps=5").alias("detail"),
    )
    return steps.unionByName(overall)


ORACLE["quality_pipeline_status"] = f"""
    WITH el0 AS ({ORACLE["ticker_eligibility_classification"]}),
    el AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tickers,
             CAST(SUM(CASE WHEN status = 'HEALTHY' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_healthy,
             CAST(SUM(CASE WHEN status = 'LAB_ONLY' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_lab_only
      FROM el0
    ),
    ds0 AS ({ORACLE["data_sufficiency_report"]}),
    ds AS (SELECT status AS ds_status FROM ds0),
    cq0 AS ({ORACLE["context_quality_report"]}),
    cq AS (SELECT CAST(COUNT(*) AS BIGINT) AS cq_rows FROM cq0),
    pc0 AS ({ORACLE["performance_chart_data"]}),
    pc AS (SELECT CAST(COUNT(*) AS BIGINT) AS pc_rows FROM pc0),
    base AS (SELECT * FROM el CROSS JOIN ds CROSS JOIN cq CROSS JOIN pc),
    steps AS (
      SELECT 'compute_ticker_eligibility' AS step,
             CASE WHEN n_tickers = 0 OR n_healthy = 0
                  THEN 'WARN' ELSE 'PASS' END AS status,
             CAST((CASE WHEN n_tickers = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN n_healthy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_warnings,
             CONCAT_WS(',',
               CASE WHEN n_tickers = 0 THEN 'no_tickers_found' END,
               CASE WHEN n_healthy = 0 THEN 'zero_healthy_tickers' END)
               AS warning_codes,
             'n_tickers=' || CAST(n_tickers AS VARCHAR)
               || ' healthy=' || CAST(n_healthy AS VARCHAR) AS detail
      FROM base
      UNION ALL
      SELECT 'apply_ticker_eligibility_gates', 'PASS',
             CAST(0 AS BIGINT), '',
             'lab_only=' || CAST(n_lab_only AS VARCHAR)
               || ' gate_written=true'
      FROM base
      UNION ALL
      SELECT 'compute_context_quality',
             CASE WHEN cq_rows = 0 THEN 'WARN' ELSE 'PASS' END,
             CAST(CASE WHEN cq_rows = 0 THEN 1 ELSE 0 END AS BIGINT),
             CASE WHEN cq_rows = 0 THEN 'partial_data' ELSE '' END,
             'rows=' || CAST(cq_rows AS VARCHAR)
      FROM base
      UNION ALL
      SELECT 'data_sufficiency_monitor',
             CASE WHEN ds_status = 'DATA_ERROR' THEN 'ERROR'
                  WHEN ds_status <> 'SUFFICIENT' THEN 'WARN'
                  ELSE 'PASS' END,
             CAST(CASE WHEN ds_status <> 'SUFFICIENT' THEN 1 ELSE 0 END
                  AS BIGINT),
             CASE WHEN ds_status <> 'SUFFICIENT' THEN 'insufficient_data'
                  ELSE '' END,
             ds_status
      FROM base
      UNION ALL
      SELECT 'generate_performance_charts',
             CASE WHEN pc_rows = 0 THEN 'ERROR' ELSE 'PASS' END,
             CAST(0 AS BIGINT), '',
             'rows=' || CAST(pc_rows AS VARCHAR)
      FROM base
    )
    SELECT step, status, n_warnings, warning_codes, detail FROM steps
    UNION ALL
    SELECT 'overall',
           CASE WHEN SUM(CASE WHEN status = 'ERROR' THEN 1 ELSE 0 END) > 0
                THEN 'ERROR'
                WHEN SUM(CASE WHEN status = 'WARN' THEN 1 ELSE 0 END) > 0
                THEN 'WARN' ELSE 'PASS' END,
           CAST(SUM(n_warnings) AS BIGINT), '',
           'pipeline_version={_QPS_VERSION} steps=5'
    FROM steps
"""


# ---------------------------------------------------------------------------
# R153 — pipeline-run analysis (scripts/analyze_pipeline_run.py)
# ---------------------------------------------------------------------------

# Reference `scripts/analyze_pipeline_run.py:17-257`: the post-run
# diagnosis report — (1) ensemble policy-decision censuses from the run
# log (APPROVED / RESEARCH_ONLY / DISABLE_DEFAULT, `analyze_pipeline_log:
# 66-95`), (2) the today-only quant-validation rollup (total/pass/fail,
# per-run failure-criteria counter, `analyze_quant_validation:17-64`),
# (3) today's trade counts incl. the production view (`check_database_
# trades:97-131`), and (4) the diagnosis ladder (`main:203-254`: all
# forecasts policy-blocked when blocked>0 and approved=0; signals
# generated but not validated; no signals at all). Engine mapping:
# policy decisions derive per key from the governance rules the report's
# own root-cause text names (promotion_margin 2% RMSE lift, regression
# when error > 1.1x baseline) over the one-step ensemble-vs-best frames;
# "today" = the latest close date in the ledger; a validation entry =
# one (ticker, day) of closed trades with the production thresholds
# (PF 1.3 / WR 0.45 / AnnRet 0) as the failure criteria; production
# trades = the non-synthetic channel (orderkey % 4 <> 0).
_PRA_MARGIN = 0.02
_PRA_REGRESSION = 1.1
_PRA_MIN_PF = 1.3
_PRA_MIN_WR = 0.45
_PRA_CAPITAL = 1_000_000.0

_PRA_SQL = f"""
    WITH s AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value > 0
    ),
    f AS (
      SELECT user_id, value,
             LAG(value) OVER wp AS prev,
             AVG(value) OVER (wp ROWS BETWEEN 3 PRECEDING
                              AND 1 PRECEDING) AS f_ma3,
             AVG(value) OVER (wp ROWS BETWEEN 10 PRECEDING
                              AND 1 PRECEDING) AS f_ma10,
             rn
      FROM s WINDOW wp AS (PARTITION BY user_id ORDER BY rn)
    ),
    pol0 AS (
      SELECT user_id,
             SQRT(AVG(POWER(value - prev, 2))) AS r_n,
             SQRT(AVG(POWER(value - f_ma3, 2))) AS r_3,
             SQRT(AVG(POWER(value - f_ma10, 2))) AS r_10,
             SQRT(AVG(POWER(value - (prev + f_ma3 + f_ma10) / 3.0, 2)))
               AS r_e
      FROM f WHERE rn >= 11 GROUP BY user_id
    ),
    pol AS (
      SELECT user_id, r_e / LEAST(r_n, r_3, r_10) AS ratio FROM pol0
    ),
    dec AS (
      SELECT CASE WHEN ratio > {_PRA_REGRESSION} THEN 'DISABLE_DEFAULT'
                  WHEN 1.0 - ratio >= {_PRA_MARGIN} THEN 'APPROVED'
                  ELSE 'RESEARCH_ONLY' END AS decision
      FROM pol
    ),
    mx AS (
      SELECT l_orderkey, MAX(l_linenumber) AS maxline
      FROM lineitem GROUP BY l_orderkey
    ),
    closes AS (
      SELECT l.l_orderkey, SUM(l.l_quantity) AS cq,
             SUM(l.l_extendedprice * (1 - l.l_discount)) AS cnet,
             CAST(MAX(l.l_shipdate) AS DATE) AS close_d
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
             c.l_orderkey AS orderkey, c.close_d,
             ROUND(c.cnet - o2.onet, 6) AS pnl
      FROM closes c
      JOIN opens o2 ON o2.l_orderkey = c.l_orderkey
      JOIN orders o ON o.o_orderkey = c.l_orderkey
      WHERE o.o_orderstatus = 'F' AND o2.oq > 0 AND c.cq > 0
    ),
    aso AS (SELECT MAX(close_d) AS d FROM trades),
    entries AS (
      SELECT t.ticker,
             AVG(CASE WHEN t.pnl > 0 THEN 1.0 ELSE 0.0 END) AS wr,
             CASE WHEN SUM(CASE WHEN t.pnl < 0 THEN ABS(t.pnl)
                          ELSE 0 END) > 0
                  THEN SUM(CASE WHEN t.pnl > 0 THEN t.pnl ELSE 0 END)
                       / SUM(CASE WHEN t.pnl < 0 THEN ABS(t.pnl)
                             ELSE 0 END)
                  WHEN SUM(CASE WHEN t.pnl > 0 THEN t.pnl ELSE 0 END) > 0
                  THEN 1e6 ELSE 0.0 END AS pf,
             SUM(t.pnl) / {_PRA_CAPITAL} * 365.0 AS ar,
             CASE WHEN SUM(t.pnl) > 0 THEN 'PASS' ELSE 'FAIL' END
               AS status
      FROM trades t CROSS JOIN aso
      WHERE t.close_d = aso.d
      GROUP BY t.ticker
    ),
    qv AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN status = 'PASS' THEN 1 ELSE 0 END)
               AS BIGINT) AS pass_n,
             CAST(SUM(CASE WHEN status = 'FAIL' THEN 1 ELSE 0 END)
               AS BIGINT) AS fail_n
      FROM entries
    ),
    reasons AS (
      SELECT reason, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT UNNEST(LIST_FILTER([
          CASE WHEN pf < {_PRA_MIN_PF} THEN 'profit_factor_below_min' END,
          CASE WHEN wr < {_PRA_MIN_WR} THEN 'win_rate_below_min' END,
          CASE WHEN ar < 0 THEN 'annual_return_negative' END],
          x -> x IS NOT NULL)) AS reason
        FROM entries WHERE status = 'FAIL'
      ) GROUP BY reason
    ),
    db AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_trades,
             CAST(SUM(CASE WHEN t.orderkey % 4 <> 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS production_trades
      FROM trades t CROSS JOIN aso WHERE t.close_d = aso.d
    ),
    polc AS (
      SELECT CAST(SUM(CASE WHEN decision = 'APPROVED'
                      THEN 1 ELSE 0 END) AS BIGINT) AS approved,
             CAST(SUM(CASE WHEN decision <> 'APPROVED'
                      THEN 1 ELSE 0 END) AS BIGINT) AS blocked,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM dec
    ),
    outp AS (
      SELECT 'policy' AS section, decision AS key,
             CAST(COUNT(*) AS BIGINT) AS n,
             ROUND(CAST(COUNT(*) AS DOUBLE)
                   / (SELECT n_keys FROM polc), 6) AS rate,
             CAST(NULL AS VARCHAR) AS note
      FROM dec GROUP BY decision
      UNION ALL
      SELECT 'llm_signals', 'generated', total,
             CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR) FROM qv
      UNION ALL
      SELECT 'quant_validation', 'total', total, CAST(NULL AS DOUBLE),
             CAST(NULL AS VARCHAR) FROM qv
      UNION ALL
      SELECT 'quant_validation', 'pass', pass_n,
             ROUND(CASE WHEN total > 0
                   THEN CAST(pass_n AS DOUBLE) / total END, 6),
             CAST(NULL AS VARCHAR) FROM qv
      UNION ALL
      SELECT 'quant_validation', 'fail', fail_n,
             ROUND(CASE WHEN total > 0
                   THEN CAST(fail_n AS DOUBLE) / total END, 6),
             CAST(NULL AS VARCHAR) FROM qv
      UNION ALL
      SELECT 'failure_reason', reason, n,
             ROUND(CAST(n AS DOUBLE)
                   / GREATEST((SELECT fail_n FROM qv), 1), 6),
             CAST(NULL AS VARCHAR)
      FROM reasons
      UNION ALL
      SELECT 'database', 'total_trades', total_trades,
             CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR) FROM db
      UNION ALL
      SELECT 'database', 'production_trades', production_trades,
             CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR) FROM db
      UNION ALL
      SELECT 'diagnosis',
             CASE WHEN p.blocked > 0 AND p.approved = 0
                  THEN 'all_forecasts_policy_blocked'
                  WHEN q.total = 0 THEN 'no_signals_validated'
                  ELSE 'ok' END,
             CASE WHEN p.blocked > 0 AND p.approved = 0
                  THEN p.blocked
                  WHEN q.total = 0 THEN 0 ELSE q.total END,
             CAST(NULL AS DOUBLE),
             CASE WHEN p.blocked > 0 AND p.approved = 0
                  THEN 'review_governance_thresholds'
                  WHEN q.total = 0 THEN 'check_signal_generation_stage'
                  ELSE NULL END
      FROM polc p CROSS JOIN qv q
    )
    SELECT * FROM outp
"""


@query("pipeline_run_analysis", oracle=_PRA_SQL)
def pipeline_run_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R153: the post-run pipeline diagnosis report — reference
    `scripts/analyze_pipeline_run.py` (see `_PRA_SQL` mapping note):
    policy-decision censuses, today-only quant-validation rollup with
    the failure-criteria counter, today's total/production trade counts
    and the diagnosis ladder, as (section, key, n, rate, note) rows.

    Scale: one window pass over the per-key series for the policy arm
    (map-side combinable RMSE aggregates), the shared canonical legs
    frame filtered to the as-of day (a one-row broadcast scalar), and
    bounded censuses."""
    from .queries_trades import canonical_legs_frame

    s = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    wk = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wr_ = Window.partitionBy("user_id").orderBy("rn")
    base = s.select(
        "user_id", "value", F.row_number().over(wk).alias("rn")
    )
    f = base.select(
        "user_id",
        "value",
        "rn",
        F.lag("value").over(wr_).alias("prev"),
        F.avg("value").over(wr_.rowsBetween(-3, -1)).alias("f_ma3"),
        F.avg("value").over(wr_.rowsBetween(-10, -1)).alias("f_ma10"),
    ).filter(F.col("rn") >= 11)

    def _rmse(pred):
        return F.sqrt(F.avg(F.pow(F.col("value") - pred, 2)))

    pol = f.groupBy("user_id").agg(
        _rmse(F.col("prev")).alias("r_n"),
        _rmse(F.col("f_ma3")).alias("r_3"),
        _rmse(F.col("f_ma10")).alias("r_10"),
        _rmse(
            (F.col("prev") + F.col("f_ma3") + F.col("f_ma10")) / 3.0
        ).alias("r_e"),
    ).select(
        "user_id",
        (F.col("r_e") / F.least("r_n", "r_3", "r_10")).alias("ratio"),
    )
    dec = pol.select(
        F.when(F.col("ratio") > _PRA_REGRESSION, "DISABLE_DEFAULT")
        .when(1.0 - F.col("ratio") >= _PRA_MARGIN, "APPROVED")
        .otherwise("RESEARCH_ONLY")
        .alias("decision")
    ).localCheckpoint()
    polc = dec.agg(
        F.sum((F.col("decision") == "APPROVED").cast("int"))
        .cast("long")
        .alias("approved"),
        F.sum((F.col("decision") != "APPROVED").cast("int"))
        .cast("long")
        .alias("blocked"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    trades = canonical_legs_frame(spark, sf_dir).select(
        "ticker",
        "orderkey",
        F.to_date(F.col("cship")).alias("close_d"),
        F.round(F.col("cnet") - F.col("onet"), 6).alias("pnl"),
    )
    asof = trades.agg(F.max("close_d").alias("d"))
    today = trades.join(
        F.broadcast(asof), F.col("close_d") == F.col("d")
    ).localCheckpoint()
    gp = F.sum(F.when(F.col("pnl") > 0, F.col("pnl")).otherwise(0.0))
    gl = F.sum(F.when(F.col("pnl") < 0, F.abs(F.col("pnl"))).otherwise(0.0))
    tot = F.sum("pnl")
    entries = today.groupBy("ticker").agg(
        F.avg(F.when(F.col("pnl") > 0, 1.0).otherwise(0.0)).alias("wr"),
        F.when(gl > 0, gp / gl).when(gp > 0, 1e6).otherwise(0.0).alias("pf"),
        (tot / _PRA_CAPITAL * 365.0).alias("ar"),
        F.when(tot > 0, "PASS").otherwise("FAIL").alias("status"),
    ).localCheckpoint()
    qv = entries.agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.sum((F.col("status") == "PASS").cast("int"))
        .cast("long")
        .alias("pass_n"),
        F.sum((F.col("status") == "FAIL").cast("int"))
        .cast("long")
        .alias("fail_n"),
    )
    reasons = (
        entries.filter(F.col("status") == "FAIL")
        .select(
            F.explode(
                F.filter(
                    F.array(
                        F.when(
                            F.col("pf") < _PRA_MIN_PF,
                            "profit_factor_below_min",
                        ),
                        F.when(
                            F.col("wr") < _PRA_MIN_WR,
                            "win_rate_below_min",
                        ),
                        F.when(F.col("ar") < 0, "annual_return_negative"),
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("reason")
        )
        .groupBy("reason")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    db = today.agg(
        F.count(F.lit(1)).cast("long").alias("total_trades"),
        F.sum((F.col("orderkey") % 4 != 0).cast("int"))
        .cast("long")
        .alias("production_trades"),
    )

    nul_d = F.lit(None).cast("double")
    nul_s = F.lit(None).cast("string")
    pol_rows = (
        dec.groupBy("decision")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(polc.select("n_keys")))
        .select(
            F.lit("policy").alias("section"),
            F.col("decision").alias("key"),
            "n",
            F.round(F.col("n").cast("double") / F.col("n_keys"), 6).alias(
                "rate"
            ),
            nul_s.alias("note"),
        )
    )
    qv_rows = qv.select(
        F.lit("llm_signals").alias("section"),
        F.lit("generated").alias("key"),
        F.col("total").alias("n"),
        nul_d.alias("rate"),
        nul_s.alias("note"),
    ).unionByName(
        qv.select(
            F.lit("quant_validation").alias("section"),
            F.lit("total").alias("key"),
            F.col("total").alias("n"),
            nul_d.alias("rate"),
            nul_s.alias("note"),
        )
    ).unionByName(
        qv.select(
            F.lit("quant_validation").alias("section"),
            F.lit("pass").alias("key"),
            F.col("pass_n").alias("n"),
            F.round(
                F.when(
                    F.col("total") > 0,
                    F.col("pass_n").cast("double") / F.col("total"),
                ),
                6,
            ).alias("rate"),
            nul_s.alias("note"),
        )
    ).unionByName(
        qv.select(
            F.lit("quant_validation").alias("section"),
            F.lit("fail").alias("key"),
            F.col("fail_n").alias("n"),
            F.round(
                F.when(
                    F.col("total") > 0,
                    F.col("fail_n").cast("double") / F.col("total"),
                ),
                6,
            ).alias("rate"),
            nul_s.alias("note"),
        )
    )
    reason_rows = reasons.crossJoin(
        F.broadcast(qv.select("fail_n"))
    ).select(
        F.lit("failure_reason").alias("section"),
        F.col("reason").alias("key"),
        "n",
        F.round(
            F.col("n").cast("double") / F.greatest(F.col("fail_n"), F.lit(1)),
            6,
        ).alias("rate"),
        nul_s.alias("note"),
    )
    db_rows = db.select(
        F.lit("database").alias("section"),
        F.lit("total_trades").alias("key"),
        F.col("total_trades").alias("n"),
        nul_d.alias("rate"),
        nul_s.alias("note"),
    ).unionByName(
        db.select(
            F.lit("database").alias("section"),
            F.lit("production_trades").alias("key"),
            F.col("production_trades").alias("n"),
            nul_d.alias("rate"),
            nul_s.alias("note"),
        )
    )
    blocked_all = (F.col("blocked") > 0) & (F.col("approved") == 0)
    diag = polc.crossJoin(F.broadcast(qv)).select(
        F.lit("diagnosis").alias("section"),
        F.when(blocked_all, "all_forecasts_policy_blocked")
        .when(F.col("total") == 0, "no_signals_validated")
        .otherwise("ok")
        .alias("key"),
        F.when(blocked_all, F.col("blocked"))
        .when(F.col("total") == 0, F.lit(0).cast("long"))
        .otherwise(F.col("total"))
        .alias("n"),
        nul_d.alias("rate"),
        F.when(blocked_all, "review_governance_thresholds")
        .when(F.col("total") == 0, "check_signal_generation_stage")
        .otherwise(nul_s)
        .alias("note"),
    )
    return (
        pol_rows.unionByName(qv_rows)
        .unionByName(reason_rows)
        .unionByName(db_rows)
        .unionByName(diag)
    )


# ---------------------------------------------------------------------------
# Partition-skew census — the shuffle-planning diagnostic
# ---------------------------------------------------------------------------

# Skewed join/aggregation keys are the 100 TB shuffle killer the charter
# calls out (salting / AQE skew-join): this census profiles the key
# distributions the engine actually shuffles on — rows per o_custkey
# (the trade-ledger grain), per l_orderkey (the lot grain) and per
# events user_id (the series grain) — and emits, per key space: the key
# count, mean/max rows per key, the max/mean imbalance factor, the
# p99/median ratio, the row share of the p99-count heavy tail, and
# the planner advice ladder (AQE's skewedPartitionFactor=5 default:
# balanced < 5x max/mean, then skewed_tail, then salt_candidate when the
# single heaviest key alone breaches the factor).
_PSC_FACTOR = 5.0


@query(
    "partition_skew_census",
    oracle=f"""
    WITH per AS (
      SELECT 'orders_by_custkey' AS key_space,
             CAST(o_custkey AS VARCHAR) AS k, COUNT(*) AS n
      FROM orders GROUP BY o_custkey
      UNION ALL
      SELECT 'lineitem_by_orderkey', CAST(l_orderkey AS VARCHAR), COUNT(*)
      FROM lineitem GROUP BY l_orderkey
      UNION ALL
      SELECT 'events_by_user', CAST(user_id AS VARCHAR), COUNT(*)
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT key_space,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             AVG(n) AS mean_rows,
             CAST(MAX(n) AS BIGINT) AS max_rows,
             QUANTILE_CONT(n, 0.5) AS med_rows,
             QUANTILE_CONT(n, 0.99) AS p99_rows
      FROM per GROUP BY key_space
    ),
    tail AS (
      SELECT p.key_space, SUM(p.n) AS tail_rows
      FROM per p JOIN agg a ON a.key_space = p.key_space
      WHERE p.n >= a.p99_rows
      GROUP BY p.key_space
    )
    SELECT a.key_space, a.n_keys, a.n_rows,
           ROUND(a.mean_rows, 6) AS mean_rows, a.max_rows,
           ROUND(a.max_rows / a.mean_rows, 6) AS imbalance_factor,
           ROUND(a.p99_rows / a.med_rows, 6) AS p99_over_median,
           ROUND(t.tail_rows / a.n_rows, 6) AS p99_tail_row_share,
           CASE WHEN a.max_rows / a.mean_rows <= {_PSC_FACTOR!r}
                THEN 'balanced'
                WHEN a.p99_rows / a.med_rows > {_PSC_FACTOR!r}
                THEN 'skewed_tail'
                ELSE 'salt_candidate' END AS advice
    FROM agg a JOIN tail t ON t.key_space = a.key_space
    """,
)
def partition_skew_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew census over the engine's three hot shuffle
    grains with the AQE-aligned advice ladder (see the module note) —
    the planning query a 1000-executor deployment runs BEFORE picking
    salting/bucketing strategies; the charter's skew story as a
    first-class diagnostic.

    Scale: one map-side-combinable groupBy per key space (the per-key
    frame is the shuffle this query measures), then a key-space-grain
    aggregate over the per-key counts; no ranking window over the
    key-grain frame. The quantiles are exact aggregates here (they
    buffer one count per key); at 1e9+ keys `percentile_approx` is the
    documented drop-in."""
    per = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("orders_by_custkey").alias("key_space"), "k", "n")
        .unionByName(
            load_table(spark, sf_dir, "lineitem")
            .groupBy(F.col("l_orderkey").cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.lit("lineitem_by_orderkey").alias("key_space"), "k", "n"
            )
        )
        .unionByName(
            load_table(spark, sf_dir, "events")
            .groupBy(F.col("user_id").cast("string").alias("k"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit("events_by_user").alias("key_space"), "k", "n")
        )
    )
    per = per.localCheckpoint()
    # NO ranking window over the key-grain frame (that would funnel each
    # key space through one task — the exact hazard this census hunts):
    # the heavy-tail mass comes from a threshold join against the
    # broadcast per-space stats instead
    agg = per.groupBy("key_space").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.avg("n").alias("mean_rows_raw"),
        F.max("n").cast("long").alias("max_rows"),
        F.percentile(F.col("n").cast("double"), F.lit(0.5)).alias(
            "med_rows"
        ),
        F.percentile(F.col("n").cast("double"), F.lit(0.99)).alias(
            "p99_rows"
        ),
    )
    tail_rows = (
        per.join(
            F.broadcast(agg.select("key_space", "p99_rows")), "key_space"
        )
        .filter(F.col("n") >= F.col("p99_rows"))
        .groupBy("key_space")
        .agg(F.sum("n").alias("tail_rows"))
    )
    imb = F.col("max_rows") / F.col("mean_rows_raw")
    tail = F.col("p99_rows") / F.col("med_rows")
    return agg.join(tail_rows, "key_space").select(
        "key_space",
        "n_keys",
        "n_rows",
        r6(F.col("mean_rows_raw")).alias("mean_rows"),
        "max_rows",
        r6(imb).alias("imbalance_factor"),
        r6(tail).alias("p99_over_median"),
        r6(F.col("tail_rows") / F.col("n_rows")).alias(
            "p99_tail_row_share"
        ),
        F.when(imb <= _PSC_FACTOR, "balanced")
        .when(tail > _PSC_FACTOR, "skewed_tail")
        .otherwise("salt_candidate")
        .alias("advice"),
    )


# ---------------------------------------------------------------------------
# Salted skew rollup — R155's advice ladder EXECUTED, not just diagnosed
# ---------------------------------------------------------------------------

#: salt fan-out for the hot-key mitigation below. 16 splits a
#: 5x-imbalanced hot key into sub-mean shards at AQE's default
#: skewedPartitionFactor; a deployment tunes it to max_rows/mean_rows
#: from `partition_skew_census`.
_SKEW_SALTS = 16


@query(
    "skew_salted_rollup",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS total_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
    FROM events GROUP BY user_id
    """,
)
def skew_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R155's `salt_candidate` advice executed end-to-end: the
    events-by-user rollup computed the way a 1000-executor job handles a
    hot user key — salt each row with ``pmod(event_id, 16)``, aggregate
    at the (user_id, salt) grain (the hot key spreads across 16 tasks),
    then FOLD the salt shards into the final per-user aggregates with a
    second, now-balanced shuffle. Distinct event types use the sibling
    two-stage pattern: shuffle on (user_id, event_type) first (the
    distinct dissolves the hot key across its value space), then count
    at the user grain.

    The ORACLE is the plain unsalted ``GROUP BY user_id`` — the hash
    match IS the proof that salting preserves results exactly. The value
    sum rides DECIMAL(18,6) on both sides so the salt-shard fold is
    order-independent (float partial sums would drift a ulp).

    Scale: every aggregate here is algebraic (count/sum/min/max fold
    losslessly); both shuffles are map-side combined; no window, no
    driver state. The salted leg is the library helper
    `operators/skew.py:salted_aggregate` (deterministic xxhash64 salt);
    `tests/test_skew_bucketing.py` pins the two-stage exchange structure
    and result-equality with the unsalted plan. min/max commute with the
    monotone 6-dp rounding, so ROUND(MIN(value), 6) on the oracle side
    equals MIN over the decimal-cast values here."""
    from ..operators.skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events")
    agg = salted_aggregate(
        ev,
        keys=["user_id"],
        salt_by=["event_id"],
        n_salts=_SKEW_SALTS,
        value=F.col("value").cast("decimal(18,6)"),
    )
    folded = agg.select(
        "user_id",
        F.col("n").alias("n_events"),
        r6(F.col("sum_value").cast("double")).alias("total_value"),
        r6(F.col("min_value").cast("double")).alias("min_value"),
        r6(F.col("max_value").cast("double")).alias("max_value"),
    )
    types = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_event_types"))
    )
    return folded.join(types, "user_id")


# ---------------------------------------------------------------------------
# Bucketed co-located join — the charter's other partition strategy,
# executed as an oracle-backed query (R157; sibling of R156's salting)
# ---------------------------------------------------------------------------

#: module-scoped configured child sessions, pooled per
#: (applicationId, conf-profile). Sessions share the SparkContext and
#: are GC-able, but a fresh `newSession()` per query invocation would
#: accumulate short-lived session state in the JVM across repeated
#: bench passes — the pool makes repeat invocations of the
#: conf-isolated queries (R157/R158) reuse ONE child per profile.
_CHILD_SESSIONS: dict[tuple[str, str], SparkSession] = {}
#: created unconditionally at module import — a lazily-created lock is
#: itself a race (two first callers can each observe None and mint
#: separate locks, letting both into the critical section and minting
#: duplicate child sessions for one profile — exactly the accumulation
#: the pool exists to prevent; the streaming family runs queries on
#: daemon threads, so concurrent first calls are real here)
_CHILD_SESSIONS_LOCK = threading.Lock()


def _conf_child_session(
    spark: SparkSession, profile: str, confs: dict[str, str]
) -> SparkSession:
    """Return the pooled child session for (application, profile),
    creating and configuring it on first use. Entries belonging to dead
    applications are evicted so cross-process test runs can't grow the
    pool unboundedly."""
    key = (spark.sparkContext.applicationId, profile)
    with _CHILD_SESSIONS_LOCK:
        child = _CHILD_SESSIONS.get(key)
        if child is None:
            for k in [k for k in _CHILD_SESSIONS if k[0] != key[0]]:
                del _CHILD_SESSIONS[k]
            child = spark.newSession()
            for c, v in confs.items():
                child.conf.set(c, v)
            _CHILD_SESSIONS[key] = child
    return child


_BKT_N = 8
#: (applicationId, sf_dir) pairs whose bucketed pair is already written
_BUCKETED_READY: set[tuple[str, str]] = set()
#: serializes the catalog-table ensure helpers across THREADS of this
#: process (the flock below only covers the sweep section, and flock
#: alone cannot protect the DROP->saveAsTable window once query builds
#: run concurrently — bench prebuilder / staging pool). RLock because
#: _ensure_analyzed_triple calls _ensure_bucketed_pair.
_CATALOG_ENSURE_LOCK = threading.RLock()


def _evict_dead_bucket_dbs(wh: str, live_tag: str) -> None:
    """The in-memory catalog dies with the process but ``bkt_*`` database
    DIRECTORIES persist in the warehouse; each sf_dir (including
    scalecheck's temporary replica roots) mints its own md5 tag, so dead
    data roots would accumulate dirs forever. Every dir records its
    originating sf_dir in a marker; a dir whose data root no longer
    exists (or that predates markers) is swept — repeated cross-process
    runs leave at most one live dir per live sf."""
    import glob
    import json
    import os
    import shutil

    for d in glob.glob(os.path.join(wh, "bkt_*.db")):
        tag = os.path.basename(d)[len("bkt_") : -len(".db")]
        if tag == live_tag:
            continue
        try:
            with open(os.path.join(d, "_origin.json")) as f:
                origin = json.load(f).get("sf_dir", "")
        except (OSError, ValueError):
            origin = ""
        if not origin or not os.path.isdir(origin):
            shutil.rmtree(d, ignore_errors=True)


def _ensure_bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders+customer co-bucketed on the join key ONCE per
    (application, sf_dir) into a per-sf database (the in-memory catalog
    does not outlive the process, so each process pays one write — the
    production analog is a one-time table layout decision, not a
    per-query cost)."""
    import hashlib
    import json

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    db = f"bkt_{tag}"
    ot, ct = f"{db}.orders_bk", f"{db}.customer_bk"
    key = (spark.sparkContext.applicationId, sf_dir)
    with _CATALOG_ENSURE_LOCK:
        return _ensure_bucketed_pair_locked(spark, sf_dir, db, ot, ct, key)


def _ensure_bucketed_pair_locked(
    spark: SparkSession,
    sf_dir: str,
    db: str,
    ot: str,
    ct: str,
    key: tuple[str, str],
) -> tuple[str, str]:
    import json

    if key in _BUCKETED_READY and spark.catalog.tableExists(ot):
        return ot, ct
    _BUCKETED_READY.difference_update(
        {k for k in _BUCKETED_READY if k[0] != key[0]}
    )
    # the in-memory catalog forgets tables across processes but their
    # warehouse directories persist — clear leftovers so saveAsTable
    # does not refuse the location (LOCATION_ALREADY_EXISTS), and sweep
    # whole databases whose originating data root is gone. The sweep is
    # DESTRUCTIVE and other processes (a concurrent different-sf run)
    # create their dirs in the same warehouse, so the
    # create→marker→sweep section holds a cross-process fcntl lock and
    # the marker is written BEFORE any sweep can run — a dir is never
    # observable marker-less by a peer's sweep.
    import os
    import shutil

    from .queries import _stage_lock

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    with _stage_lock(os.path.join(wh, "bkt_ensure")):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        os.makedirs(os.path.join(wh, f"{db}.db"), exist_ok=True)
        with open(os.path.join(wh, f"{db}.db", "_origin.json"), "w") as f:
            json.dump({"sf_dir": sf_dir}, f)
        _evict_dead_bucket_dbs(wh, db.removeprefix("bkt_"))
    for tbl in (ot, ct):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        loc = os.path.join(wh, f"{db}.db", tbl.split(".")[1])
        shutil.rmtree(loc, ignore_errors=True)
    (
        load_table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .bucketBy(_BKT_N, "o_custkey")
        .sortBy("o_custkey")
        .saveAsTable(ot)
    )
    (
        load_table(spark, sf_dir, "customer")
        .write.mode("overwrite")
        .bucketBy(_BKT_N, "c_custkey")
        .sortBy("c_custkey")
        .saveAsTable(ct)
    )
    _BUCKETED_READY.add(key)
    # a rewrite drops catalog statistics with the tables — the analyzed
    # registry (R164) must not survive it, or the CBO demo would read
    # stats that no longer exist
    _ANALYZED_READY.discard(key)
    return ot, ct


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
                 6) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R157: the charter's "bucketing for co-located joins" executed as
    an oracle-backed query — orders and customer are written co-bucketed
    on the join key (once per application+sf, the one-time layout
    decision a 100 TB deployment makes), then joined WITHOUT a shuffle:
    the bucket layout satisfies the join's distribution requirement, so
    the sort-merge join reads co-located buckets directly. Broadcast is
    disabled on a child session (isolated SQLConf) to force the shape
    the pattern exists for — at real scale neither side is
    broadcastable. The ORACLE is the plain unbucketed join: the hash
    match proves the bucketed layout is semantics-free.

    Plan contract (pinned in tests/test_skew_bucketing.py): no Exchange
    under the join — the only shuffle in the whole query is the final
    bounded mktsegment rollup."""
    ot, ct = _ensure_bucketed_pair(spark, sf_dir)
    child = _conf_child_session(
        spark,
        "no-broadcast",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    o = child.table(ot)
    c = child.table(ct)
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.countDistinct("c_custkey").cast("long").alias("n_customers"),
        r6(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            )
        ).alias("total_price"),
    )


@query(
    "bloom_filtered_join",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def bloom_filtered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R158: runtime Bloom-filter join — the third partition-strategy
    mechanism demo (R156 salting, R157 bucketing, R158 runtime filter
    pushdown). A selective dim-side predicate (urgent orders) seeds a
    Bloom filter that Catalyst injects into the FACT-side scan
    (`might_contain` over `xxhash64(l_orderkey)`), so
    lineitem rows that cannot join are dropped AT THE SCAN, before the
    shuffle — at 100 TB this is the difference between shuffling the
    whole fact table and shuffling only the ~1/5 that survives the
    filter. Broadcast is disabled (at real scale neither side fits) and
    the injection thresholds are set on an isolated child session the
    way a 100 TB deployment would tune them
    (applicationSideScanSizeThreshold=0 stands in for "the fact side is
    huge"; the local testdata is far below the 10 GB default). The
    ORACLE is the plain join+filter: the hash match proves the injected
    filter is semantics-free (a Bloom filter admits false positives,
    never false negatives — the join itself removes the former).

    Plan contract (pinned in tests/test_skew_bucketing.py): the
    optimized plan carries a might_contain predicate on the
    lineitem side fed by a bloom_filter_agg over the filtered orders
    keys."""
    child = _conf_child_session(
        spark,
        "bloom-join",
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold": "100MB",
        },
    )
    o = load_table(child, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(child, sf_dir, "lineitem")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    price = F.col("l_extendedprice").cast("decimal(14,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        F.sum(F.col("l_quantity").cast("decimal(14,2)"))
        .cast("double")
        .alias("sum_qty"),
        F.sum(price * (1 - disc)).cast("double").alias("revenue"),
    )


def _ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage events PARTITIONED BY event_type once per (code, data)
    fingerprint — the one-time directory layout a 100 TB deployment
    gives a big fact table so selective joins can skip whole partitions
    at runtime. Delegates to the shared staging protocol
    (`queries._ensure_staged`) with a partitioned write — one
    fingerprint/lock/marker/telemetry implementation, not two."""
    from .queries import _ensure_staged

    return _ensure_staged(
        lambda: load_table(spark, sf_dir, "events"),
        "events_by_type",
        sf_dir,
        partition_by="event_type",
    )


@query(
    "dpp_pruned_rollup",
    oracle="""
    WITH dim AS (
      SELECT event_type,
             SUM(CAST(value AS DECIMAL(18,6))) / COUNT(*) AS avg_value
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS sum_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    WHERE d.avg_value > 50
    GROUP BY e.event_type
    """,
)
def dpp_pruned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R159: DYNAMIC partition pruning — the fourth partition-strategy
    mechanism demo (R156 salting, R157 bucketing, R158 runtime Bloom
    filter, R159 DPP). The fact side reads the events table staged
    PARTITIONED BY event_type; the dim side is a DATA-DEPENDENT
    selection (per-type exact-decimal mean value > 50) that no static
    optimizer can fold into a partition predicate — so Catalyst injects
    a `dynamicpruningexpression` into the fact scan's PartitionFilters
    and the pruning decision executes AT RUNTIME, after the dim
    aggregate: partitions whose type fails the filter are never read.
    At 100 TB this is the mechanism that turns a selective dim filter
    into fact-side IO elimination when the partition column carries the
    join key. (A derivable filter — e.g. a CASE over event_type — folds
    STATICALLY instead; the data-dependent dim is what makes this demo
    genuinely dynamic, verified by the plan pin in
    tests/test_skew_bucketing.py.)

    The ORACLE is the plain unpartitioned join: the hash match proves
    the partitioned layout + runtime pruning are semantics-free. The
    dim mean uses exact DECIMAL sums on both sides, so the >50 gate
    cannot flip on float summation order (min observed margin 0.067
    across the test SFs)."""
    root = _ensure_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(root)
    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            (
                F.sum(F.col("value").cast("decimal(18,6)"))
                / F.count(F.lit(1))
            ).alias("avg_value")
        )
        .filter(F.col("avg_value") > 50)
    )
    return (
        ev.join(dim, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            r6(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            ).alias("sum_value"),
        )
    )


def _z_interleave_sql(u: str, h: str, bits: int = 10) -> str:
    """The Morton/Z-order bit interleave as portable SQL (DuckDB and
    Spark SQL share <<, >>, & on integers): u takes odd bit positions,
    h even."""
    terms = []
    for k in range(bits):
        terms.append(f"((({u} >> {k}) & 1) << {2 * k + 1})")
        terms.append(f"((({h} >> {k}) & 1) << {2 * k})")
    return " + ".join(terms)


@query(
    "zorder_skipping_census",
    oracle=f"""
    WITH e AS (
      SELECT event_id,
             ((user_id % 1024) + 1024) % 1024 AS u,
             ((CAST(FLOOR(EPOCH_MS(ts::TIMESTAMP) / 3600000.0) AS BIGINT)
               % 1024) + 1024) % 1024 AS h,
             ts
      FROM events
    ),
    z AS (SELECT *, {_z_interleave_sql('u', 'h')} AS zval FROM e),
    tiled AS (
      SELECT 'zorder' AS layout, u, h,
             NTILE(32) OVER (ORDER BY zval, event_id) AS tile
      FROM z
      UNION ALL
      SELECT 'time' AS layout, u, h,
             NTILE(32) OVER (ORDER BY ts, event_id) AS tile
      FROM z
    ),
    spans AS (
      SELECT layout, tile,
             MAX(u) - MIN(u) + 1 AS u_span,
             MAX(h) - MIN(h) + 1 AS h_span
      FROM tiled GROUP BY layout, tile
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           ROUND(AVG(u_span), 6) AS avg_user_span,
           ROUND(AVG(h_span), 6) AS avg_hour_span,
           ROUND(SUM(u_span) / 1024.0, 6) AS est_tiles_point_user,
           ROUND(SUM(h_span) / 1024.0, 6) AS est_tiles_point_hour
    FROM spans GROUP BY layout
    """,
)
def zorder_skipping_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R160: Z-order (Morton) clustering effectiveness — the
    multi-dimensional data-skipping layout decision a lakehouse makes
    for its biggest fact tables (Delta OPTIMIZE ZORDER / Iceberg
    sort-order), expressed as a measurable census: interleave the low
    10 bits of (user_id, hour) into a Morton key, cut BOTH the z-order
    and the plain time order into 32 equal tiles (files), and compare
    per-tile min/max bounding boxes — the exact statistics row-group /
    file skipping prunes on. `est_tiles_point_*` is the expected number
    of tiles a point predicate on that dimension must read under
    uniform queries (sum of per-tile span / domain): time layout gives
    near-perfect hour pruning but NO user pruning; z-order bounds BOTH
    dimensions at once — the quantified tradeoff that justifies the
    layout at 100 TB.

    Both global tile ranks are the two-pass `scalable_row_number` +
    closed-form SQL-standard NTILE boundaries (no single-partition
    window — the same discipline as `customer_spend_deciles`); the bit
    interleave is pure column algebra on both engines."""
    from ..operators.windows import closed_form_ntile, scalable_row_number

    ev = load_table(spark, sf_dir, "events")
    # pmod + floor on BOTH engines: '//'-style truncation and plain %
    # diverge from floor/pmod for pre-1970 timestamps or negative keys
    u = F.pmod(F.col("user_id"), F.lit(1024))
    h = F.pmod(
        F.floor(F.unix_millis(F.col("ts")) / F.lit(3600000)).cast("long"),
        F.lit(1024),
    )
    z = F.lit(0).cast("long")
    for k in range(10):
        z = (
            z
            + F.shiftleft(F.shiftright(u, k).bitwiseAND(F.lit(1)), 2 * k + 1)
            + F.shiftleft(F.shiftright(h, k).bitwiseAND(F.lit(1)), 2 * k)
        )
    base = ev.select(
        "event_id", "ts", u.alias("u"), h.alias("h"), z.alias("zval")
    )

    def tiles(df: DataFrame, order_cols, label: str) -> DataFrame:
        ranked, total = scalable_row_number(
            df, order_cols, out_col="rk", with_total=True
        )
        tile = closed_form_ntile(F.col("rk"), total, 32)
        return ranked.select(
            F.lit(label).alias("layout"),
            "u",
            "h",
            tile.alias("tile"),
        )

    tiled = tiles(base, [F.col("zval"), F.col("event_id")], "zorder").unionByName(
        tiles(base, [F.col("ts"), F.col("event_id")], "time")
    )
    spans = tiled.groupBy("layout", "tile").agg(
        (F.max("u") - F.min("u") + 1).alias("u_span"),
        (F.max("h") - F.min("h") + 1).alias("h_span"),
    )
    return spans.groupBy("layout").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        r6(F.avg("u_span")).alias("avg_user_span"),
        r6(F.avg("h_span")).alias("avg_hour_span"),
        r6(F.sum("u_span") / 1024.0).alias("est_tiles_point_user"),
        r6(F.sum("h_span") / 1024.0).alias("est_tiles_point_hour"),
    )


_COMPACT_TARGET = 256 * 1024  # bytes; test-data scale stand-in for 128 MB


@query(
    "compaction_plan_census",
    oracle=f"""
    WITH f AS (
      SELECT part, file, bytes,
             SUM(bytes) OVER (PARTITION BY part
                              ORDER BY bytes DESC, file
                              ROWS UNBOUNDED PRECEDING) AS cumb
      FROM read_parquet(
        '__ORACLE_STAGE__/events_file_inventory/*.parquet')
    ),
    b AS (
      SELECT part, bytes,
             CAST(FLOOR((cumb - bytes) / {_COMPACT_TARGET}.0) AS BIGINT)
               AS bin
      FROM f
    ),
    bins AS (
      SELECT part, bin, CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(bytes) AS BIGINT) AS bin_bytes
      FROM b GROUP BY part, bin
    )
    SELECT part,
           CAST(SUM(n_files) AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(bin_bytes) AS BIGINT) AS total_bytes,
           ROUND(AVG(bin_bytes), 6) AS avg_bin_bytes,
           ROUND(CAST(SUM(n_files) AS DOUBLE) / COUNT(*), 6)
             AS files_per_bin
    FROM bins GROUP BY part
    """,
)
def compaction_plan_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R161: small-files compaction planning — the standing operational
    job of any 100 TB parquet lake (every micro-batch/streaming sink
    and over-parallel write leaves files far below the optimal scan
    size; compaction bin-packs them back to a target). The staged
    partitioned events table's ACTUAL file inventory (partition, file,
    bytes) is read DISTRIBUTIVELY — a metadata-only `binaryFile` scan
    (the `content` column is never selected, so Spark's binary-file
    source prunes it and reads no file bytes; partition values come
    from directory-style partition discovery). At the production target
    (a 100 TB lake, 128 MB files, ~800k files) the listing itself
    parallelizes across executors instead of single-threading on the
    driver. The inventory is staged so the oracle reads the identical
    census, then bin-packed deterministically: files sorted by size
    descending within each partition, assigned by FRACTIONAL CUMULATIVE
    BINNING — bin = floor((running_total − bytes) / target), which can
    overfill a bin relative to classical next-fit but is deterministic
    and oracle-mirrorable — into target-sized bins (256 KiB here — the
    test-scale stand-in for a production 128 MB target), then a
    per-partition census: file count, bin count, byte totals,
    files-per-bin (the compaction ratio). The plan is declarative
    end-to-end — one per-partition window for the running total, no
    single-partition window (partitioned by the table's own partition
    column) and no driver-side listing.

    Reference anchor: the retention/cleanup maintenance shape of
    etl/data_storage.py:150-176 applied to layout upkeep rather than
    deletion."""
    from .queries import stage_cached

    root = _ensure_partitioned_events(spark, sf_dir)
    inv = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(root)
        .select(
            F.col("event_type").cast("string").alias("part"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("file"),
            F.col("length").cast("long").alias("bytes"),
        )
    )
    staged = stage_cached(spark, sf_dir, "events_file_inventory", lambda: inv)
    w = (
        Window.partitionBy("part")
        .orderBy(F.col("bytes").desc(), "file")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b = staged.select(
        "part",
        "bytes",
        (
            F.floor(
                (F.sum("bytes").over(w) - F.col("bytes"))
                / F.lit(float(_COMPACT_TARGET))
            )
        ).alias("bin"),
    )
    bins = b.groupBy("part", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("bin_bytes"),
    )
    return bins.groupBy("part").agg(
        F.sum("n_files").cast("long").alias("n_files"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("bin_bytes").cast("long").alias("total_bytes"),
        r6(F.avg("bin_bytes")).alias("avg_bin_bytes"),
        r6(F.sum("n_files").cast("double") / F.count(F.lit(1))).alias(
            "files_per_bin"
        ),
    )


@query(
    "aqe_skew_join_rollup",
    oracle="""
    WITH r AS (
      SELECT GREATEST(1, CAST(CEIL(100000.0 / (SELECT COUNT(*) FROM events))
                              AS BIGINT)) AS nrep
    ),
    f AS (
      SELECT CASE WHEN user_id % 3 < 2 THEN 0 ELSE user_id END AS k,
             value
      FROM events, r, UNNEST(GENERATE_SERIES(1, r.nrep)) AS g(i)
    ),
    d AS (
      SELECT g.id AS k FROM UNNEST(GENERATE_SERIES(0,
        (SELECT MAX(user_id) FROM events))) AS g(id)
      WHERE g.id = 0 OR g.id % 3 = 2
    ),
    j AS (SELECT f.k, f.value, d.k % 7 AS tag FROM f JOIN d ON f.k = d.k)
    SELECT CAST(k = 0 AS INTEGER) AS is_hot,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys,
           CAST(SUM(tag) AS BIGINT) AS sum_tag,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value
    FROM j GROUP BY CAST(k = 0 AS INTEGER)
    """,
)
def aqe_skew_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R162: AQE runtime skew-join split — the FIFTH partition-strategy
    mechanism (R156 salting, R157 bucketing, R158 runtime Bloom filter,
    R159 DPP, R162 adaptive skew split). Salting (R156) rewrites the
    QUERY to spread a hot key; AQE's skew join fixes the same hazard at
    RUNTIME with no query rewrite: after the shuffle map stage, the
    engine sees one reducer partition far above the skew threshold,
    SPLITS it into sub-partitions, and duplicates the matching rows of
    the other side — the sort-merge join proceeds with balanced tasks.
    At 100 TB this is the default defense for skew you did not predict;
    salting remains the tool for skew you did.

    The fact side is events with a manufactured hot key (2/3 of all rows
    on k=0); the dim side is the distinct-key frame. Broadcast is
    disabled and the skew thresholds are lowered on the pooled child
    session exactly as a deployment would tune them for its shuffle
    sizes (the local testdata sits far below the 256 MB default). The
    ORACLE is the plain join: the hash match proves the runtime split is
    semantics-free (rows of a split partition join against duplicated
    dim rows — same multiset). Plan contract pinned in
    tests/test_skew_bucketing.py: the post-execution adaptive plan
    carries a `skew=true` sort-merge join."""
    # reducer count scales with fact volume (~50k rows per reducer,
    # floor 32 — bytes-per-reducer sizing, the production defense this
    # repo's decade notes state): OptimizeSkewedJoin's split target is
    # max(advisoryPartitionSize, MEDIAN reduce-partition size), so with
    # a FIXED reducer count the median — and therefore every split
    # sub-partition, and the per-task peak — grows linearly with data
    # (measured: 42→218 MB across sf1→sf10 at 32 reducers). Sizing
    # reducers by volume holds the median constant and the split's
    # per-task peak flat at any hot-key size. The pool profile carries
    # the count (per-sf conf on a shared profile would race); unchanged
    # at the oracle-gate SFs (floor applies there).
    _probe = load_table(spark, sf_dir, "events")
    n_events = _probe.count()
    nrep = max(1, -(-100_000 // int(n_events)))
    nshuf = max(32, -(-int(n_events) * nrep // 50_000))
    child = _conf_child_session(
        spark,
        f"aqe-skew-{nshuf}",
        {
            "spark.sql.shuffle.partitions": str(nshuf),
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin."
            "skewedPartitionThresholdInBytes": "8KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
            # the split re-opens the join's output partitioning, so the
            # conservative rule would skip it when a downstream exchange
            # exists anyway — force it, as a deployment chasing a known
            # hot key would
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
            # keep the split visible: without this, coalescing could
            # re-merge small sub-partitions in the same stage
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        },
    )
    ev = load_table(child, sf_dir, "events")
    k = F.when(F.pmod(F.col("user_id"), 3) < 2, F.lit(0)).otherwise(
        F.col("user_id")
    )
    # Two test-harness adjustments make the LOCAL single-file table
    # behave like the multi-block 100 TB fact this mechanism exists for
    # (both measured, round-10 build notes): (a) the skew must be
    # physically splittable — a reduce partition splits at MAPPER
    # boundaries, and a one-file local scan has ONE mapper, so the fact
    # is spread over 32 round-robin mappers; (b) the optimizer only
    # splits partitions big enough to matter — the fact is replicated to
    # a CONSTANT ~100k rows at any sf (nrep = ceil(100k / n), a
    # deterministic data-derived scalar the oracle replays), so the demo
    # triggers identically at every test scale while the rollup algebra
    # stays exact (every sum scales by nrep).
    # mapper count scales with the same budget (a reduce partition
    # splits at MAP-OUTPUT boundaries — on a real cluster mappers are
    # input splits and scale with the data automatically; a fixed
    # mapper count would put a linearly-growing floor under every
    # sub-partition)
    nmap = nshuf
    f = (
        ev.select(k.cast("long").alias("k"), "value")
        .crossJoin(F.broadcast(child.range(1, nrep + 1).select(F.lit(1).alias("_i"))))
        .drop("_i")
        .repartition(nmap)
    )
    # dim = the key DOMAIN as a generated range (one-row driver scalar
    # for the bound — the repo's accepted pattern), NOT a dedup of the
    # fact: an aggregate between the dim's shuffle and the join breaks
    # OptimizeSkewedJoin's SMJ(Sort(shuffle), Sort(shuffle)) pattern
    # match, and a real deployment's dim table is exactly such a plain
    # keyed scan
    max_user = ev.agg(F.max("user_id")).first()[0]
    d = (
        child.range(int(max_user) + 1)
        .filter((F.col("id") == 0) | (F.pmod(F.col("id"), 3) == 2))
        .select(F.col("id").alias("k"))
    )
    j = f.join(d.withColumn("tag", F.pmod(F.col("k"), 7)), "k")
    return j.groupBy((F.col("k") == 0).cast("int").alias("is_hot")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("k").cast("long").alias("n_keys"),
        F.sum("tag").cast("long").alias("sum_tag"),
        r6(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        ).alias("sum_value"),
    )


@query(
    "incremental_rollup_merge",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events GROUP BY event_type
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R163: incremental rollup maintenance via MERGEABLE partial
    aggregates — the standing pattern that keeps a 100 TB lake's rollups
    fresh WITHOUT rescanning history: the base partition set's
    sub-aggregate (count / exact-decimal sum / min / max per key) is
    computed once and persisted; each arriving delta contributes only
    ITS sub-aggregate; the serving rollup is the pure MERGE of the two
    (counts and decimal sums add, min/max fold, avg derives at read
    time). Here base = events with event_id % 5 != 0 (the "history"),
    delta = the remaining fifth (the "new day"), and the engine computes
    merge(agg(base), agg(delta)); the ORACLE is the direct full-table
    aggregate — the hash match is the proof that the merge algebra is
    EXACT, which only holds because the sums are decimal (float sums
    would drift with grouping order) and every kept statistic is
    mergeable (avg is derived, never merged).

    Scale: two map-side-combining aggregates over disjoint row sets plus
    a bounded (per-event-type) merge — strictly cheaper than the full
    rescan it replaces; in production the base legs come from the stored
    rollup, making refresh cost O(delta), not O(history)."""
    ev = load_table(spark, sf_dir, "events")

    def sub_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )

    base = sub_agg(ev.filter(F.pmod(F.col("event_id"), 5) != 0))
    delta = sub_agg(ev.filter(F.pmod(F.col("event_id"), 5) == 0))
    merged = base.unionByName(delta).groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("s").alias("s_all"),
        F.min("mn").alias("mn_all"),
        F.max("mx").alias("mx_all"),
    )
    return merged.select(
        "event_type",
        "n_events",
        r6(F.col("s_all").cast("double")).alias("sum_value"),
        r6(F.col("s_all").cast("double") / F.col("n_events")).alias(
            "avg_value"
        ),
        r6(F.col("mn_all")).alias("min_value"),
        r6(F.col("mx_all")).alias("max_value"),
    )


#: (applicationId, sf_dir) whose catalog triple is saved + ANALYZEd
_ANALYZED_READY: set[tuple[str, str]] = set()


def _ensure_analyzed_triple(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str, str]:
    """orders/customer (the R157 bucketed pair, reused) plus a saved
    nation table, each ``ANALYZE TABLE ... COMPUTE STATISTICS`` — the
    table-level rowCount/sizeInBytes statistics the cost-based optimizer
    prices join orders with. Stats live in the in-memory catalog, so
    each process pays one ANALYZE pass (seconds at test scale; a
    production metastore persists them)."""
    import os
    import shutil

    ot, ct = _ensure_bucketed_pair(spark, sf_dir)
    db = ot.split(".")[0]
    nt = f"{db}.nation_st"
    key = (spark.sparkContext.applicationId, sf_dir)
    with _CATALOG_ENSURE_LOCK:
        return _ensure_analyzed_triple_locked(spark, sf_dir, ot, ct, nt, key)


def _ensure_analyzed_triple_locked(
    spark: SparkSession,
    sf_dir: str,
    ot: str,
    ct: str,
    nt: str,
    key: tuple[str, str],
) -> tuple[str, str, str]:
    import os
    import shutil

    db = ot.split(".")[0]
    if key in _ANALYZED_READY and spark.catalog.tableExists(nt):
        return ot, ct, nt
    _ANALYZED_READY.difference_update(
        {k for k in _ANALYZED_READY if k[0] != key[0]}
    )
    spark.sql(f"DROP TABLE IF EXISTS {nt}")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(
        os.path.join(wh, f"{db}.db", "nation_st"), ignore_errors=True
    )
    load_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
        nt
    )
    for t in (ot, ct, nt):
        spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS")
    _ANALYZED_READY.add(key)
    return ot, ct, nt


@query(
    "cbo_join_reorder_rollup",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
                 6) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE n_name = 'NATION_7'
    GROUP BY c_mktsegment
    """,
)
def cbo_join_reorder_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R164: statistics-driven join reordering — the sixth
    partition-strategy/optimizer mechanism demo (salting, bucketing,
    runtime Bloom filter, DPP, AQE skew split, CBO reorder). The query
    is WRITTEN in the worst order — orders ⋈ customer first, the
    selective nation filter last — and the cost-based optimizer,
    priced on ANALYZE'd table statistics, REORDERS it so the
    1-row-filtered nation joins customer before the big orders fact is
    touched: at 100 TB the difference between shuffling the whole
    orders⋈customer product and shuffling only the one filtered nation's customers.
    This is the "let Catalyst optimize" pillar made measurable: the
    developer states the joins declaratively; statistics pick the
    order. Broadcast is disabled on the pooled child session so the
    order genuinely matters (with broadcast on, tiny sides mask it).

    The ORACLE is the same join written plainly — the hash match proves
    the reorder semantics-free. Plan contract pinned in
    tests/test_skew_bucketing.py: with CBO on, the optimized plan's
    INNER join is customer⋈nation and orders joins OUTERMOST; with CBO
    off the syntactic order stands."""
    ot, ct, nt = _ensure_analyzed_triple(spark, sf_dir)
    child = _conf_child_session(
        spark,
        "cbo-reorder",
        {
            "spark.sql.cbo.enabled": "true",
            "spark.sql.cbo.joinReorder.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    o, c, n = child.table(ot), child.table(ct), child.table(nt)
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .filter(n.n_name == "NATION_7")
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.countDistinct("c_custkey").cast("long").alias("n_customers"),
        r6(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        ).alias("total_price"),
    )


@query(
    "partition_readiness_gate",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS event_date,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT CAST(FLOOR(EPOCH_MS(ts::TIMESTAMP)
                    / 3600000.0) AS BIGINT)) AS BIGINT) AS hours_covered,
             MAX(ts) AS last_ts
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    g AS (SELECT MAX(CAST(ts AS DATE)) AS max_landed_date FROM events)
    SELECT CAST(d.event_date AS VARCHAR) AS event_date,
           d.n_events, d.hours_covered,
           CAST(CASE WHEN d.event_date < g.max_landed_date
                     THEN 1 ELSE 0 END AS INTEGER) AS ready
    FROM d CROSS JOIN g
    """,
)
def partition_readiness_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R165: partition-completeness readiness gate — the standing
    scheduling contract of a date-partitioned lake: a downstream job may
    read day D only once D is COMPLETE, and the only landed-data-derivable
    completeness signal is that ingestion has moved past it (some event
    with a LATER date has landed — the batch analog of a streaming
    watermark passing the day boundary). Per day: event count, distinct
    hour buckets covered (the coverage diagnostic for gap alerts), and
    the READY verdict; the newest landed day is always OPEN. Downstream
    jobs filter `ready = 1` — the same day never flips back, so reads
    are repeatable.

    Scale: one keyed date aggregate (map-side combined) plus a one-row
    global max broadcast — linear scan, bounded output (days of
    history). Reference anchor: the freshness/staleness gates of
    etl/data_storage.py:179-301 and R103's per-store coverage floor,
    recast as the partition-grain scheduling contract."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct(
            F.floor(F.unix_millis("ts") / F.lit(3600000.0)).cast("long")
        )
        .cast("long")
        .alias("hours_covered"),
    )
    g = ev.agg(F.max(F.to_date("ts")).alias("max_landed_date"))
    return d.crossJoin(F.broadcast(g)).select(
        F.col("event_date").cast("string").alias("event_date"),
        "n_events",
        "hours_covered",
        (F.col("event_date") < F.col("max_landed_date"))
        .cast("int")
        .alias("ready"),
    )


# ---------------------------------------------------------------------------
# R167 — AQE runtime SMJ→BHJ conversion (the SEVENTH partition-strategy
# mechanism: R156 salting, R157 bucketing, R158 Bloom, R159 DPP, R162
# skew split, R163 mergeable rollup, R167 runtime join-strategy re-plan)
# ---------------------------------------------------------------------------


@query(
    "aqe_bhj_conversion_rollup",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_custkey % 97 = 0
    GROUP BY c.c_mktsegment
    """,
)
def aqe_bhj_conversion_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R167: AQE runtime sort-merge→broadcast-hash conversion — the other
    headline adaptive re-plan beside R162's skew split. The planner must
    commit to a join strategy from PRE-execution size estimates, and a
    selective dim-side filter is exactly where those estimates fail:
    without CBO column stats a Filter's size estimate passes through
    unchanged, so the static plan sees "customer = whole file" and picks
    a sort-merge join. At runtime the filtered side MATERIALIZES a few
    KB in its shuffle stage; AQE reads the real size and re-plans the
    join to broadcast-hash with a LOCAL shuffle read on the fact side —
    the fact rows never cross the network. At 100 TB this is the defense
    for every "small after filter" dim the optimizer cannot see in
    advance.

    Conf pair IS the mechanism: static `autoBroadcastJoinThreshold=-1`
    (the planner can never broadcast) + runtime
    `adaptive.autoBroadcastJoinThreshold=64KB` (the re-planner converts
    when the MEASURED size clears it). The plan contract — initial plan
    SortMergeJoin, final adaptive plan BroadcastHashJoin — is pinned in
    tests/test_aqe.py; the ORACLE (the plain join) proves the conversion
    is semantics-free. Reference anchor: the engine-mechanism family of
    BENCH_NOTES' partition-strategy charter (beyond the reference)."""
    child = _conf_child_session(
        spark,
        "aqe-bhj-convert",
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "64KB",
            "spark.sql.adaptive.localShuffleReader.enabled": "true",
        },
    )
    ev = load_table(child, sf_dir, "events").select("user_id", "value")
    cust = (
        load_table(child, sf_dir, "customer")
        .filter(F.col("c_custkey") % 97 == 0)
        .select("c_custkey", "c_mktsegment")
    )
    j = ev.join(cust, ev.user_id == cust.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("c_custkey").cast("long").alias("n_customers"),
        r6(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# R168 — AQE runtime partition coalescing (the third adaptive mechanism
# as an oracle-backed query: R162 skew split, R167 join re-plan, R168
# right-sizing)
# ---------------------------------------------------------------------------


@query(
    "aqe_coalesce_rollup",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value
    FROM events GROUP BY event_type
    """,
)
def aqe_coalesce_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R168: AQE runtime partition COALESCING — the third adaptive
    mechanism run as an oracle-backed query (R162 splits partitions
    that are too big; this demonstrates the engine merging partitions
    that are too small). A deployment sets ONE cluster-wide
    spark.sql.shuffle.partitions sized for its biggest facts; every
    smaller intermediate would then fragment into hundreds of
    near-empty tasks — scheduler overhead that grows with the SETTING,
    not the data. With adaptive coalescing the setting becomes a
    CEILING: the runtime reads the materialized map output sizes and
    merges neighbors up to the advisory size, so the tiny rollup below,
    shuffled at a deliberately oversized 512 partitions, executes in a
    handful of tasks. The final-plan contract (AQEShuffleRead
    coalesced, far fewer partitions than 512) is pinned in
    tests/test_aqe.py; the oracle proves right-sizing is
    semantics-free. This is why every query in this repo can leave the
    partition count to the session default and still be graded
    shuffle-sane at 100 TB: oversizing is corrected at runtime,
    undersizing is what R162 corrects."""
    child = _conf_child_session(
        spark,
        "aqe-coalesce",
        {
            "spark.sql.shuffle.partitions": "512",
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64MB",
        },
    )
    ev = load_table(child, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        r6(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        ).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# R169 — optimizer-INJECTED runtime Bloom filter (the automatic sibling
# of R158's hand-built Bloom join: R156 salting, R157 bucketing, R158
# manual Bloom, R159 DPP, R162 skew split, R163 mergeable rollup, R167
# join re-plan, R168 coalescing, R169 injected row-level runtime filter)
# ---------------------------------------------------------------------------


@query(
    "runtime_bloom_join_rollup",
    oracle="""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                      AS DOUBLE), 6) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 2
    GROUP BY p.p_brand
    """,
)
def runtime_bloom_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R169: optimizer-INJECTED runtime Bloom filter — the automatic
    sibling of R158's hand-built Bloom join, closing the runtime-filter
    family. The dim filter here (`p_size <= 2`, ~4% of parts) is on a
    NON-key column, so constraint inference can derive NO exact fact-side
    predicate from it (contrast R167, where a key-modulus filter transfers
    through the join equality); without a runtime filter every lineitem
    row crosses the shuffle just to be discarded by the join. With
    `spark.sql.optimizer.runtime.bloomFilter.enabled` the InjectRuntimeFilter
    rule rewrites the fact side to
    `Filter(might_contain(scalar-subquery, xxhash64(l_partkey)))` where
    the subquery is a `bloom_filter_agg` over the FILTERED dim's join
    keys — the fact scan probes the Bloom sketch BEFORE its shuffle, so
    ~96% of fact rows never leave their map task. At 100 TB this is the
    default defense for selective dim filters the planner cannot
    transfer exactly: semi-join reduction at Bloom-sketch cost (8 MB
    default bitmap, one extra dim-side pass), no hand-built sketch join
    to maintain. Broadcast is disabled on BOTH the static and adaptive
    planner so the shuffle join — the plan the filter exists to protect
    — is what executes; the plan contract (SMJ + might_contain +
    bloom_filter_agg on the probe side) is pinned in tests/test_aqe.py,
    and the ORACLE (the plain join) proves injection is semantics-free.
    Reference anchor: the engine-mechanism family of BENCH_NOTES'
    partition-strategy charter (beyond the reference)."""
    child = _conf_child_session(
        spark,
        "runtime-bloom",
        {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            # the fact side is tiny at test SFs; the production default
            # (10 GB) gates application to real fact volumes
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter."
            "creationSideThreshold": "100MB",
        },
    )
    li = load_table(child, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = (
        load_table(child, sf_dir, "part")
        .filter(F.col("p_size") <= 2)
        .select("p_partkey", "p_brand")
    )
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("sum_qty"),
        r6(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double")
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# R170 — shuffled-hash-join selection (the static planner's third join
# strategy, and the size algebra that gates it)
# ---------------------------------------------------------------------------


@query(
    "shuffled_hash_join_rollup",
    oracle="""
    SELECT c.c_mktsegment, o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 6) AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment, o.o_orderpriority
    """,
)
def shuffled_hash_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R170: SHUFFLED-HASH-JOIN selection — the static planner's third
    equi-join strategy beside broadcast-hash and sort-merge, and the
    size algebra that gates it. SMJ sorts BOTH shuffled sides before
    merging (per-partition O(n log n) plus sort-spill machinery); SHJ
    skips the sorts entirely and builds an in-memory hash map from the
    smaller side per partition — but an under-estimated build side now
    OOMs instead of spilling gracefully, which is WHY Spark prefers SMJ
    unless ALL THREE planner conditions hold: (1)
    ``preferSortMergeJoin=false``, (2) `canBuildLocalHashMapBySize` —
    build-side estimate < autoBroadcastJoinThreshold × shuffle
    partitions, i.e. roughly one threshold's worth of build rows PER
    TASK, and (3) `muchSmaller` — build side ≤ other side / 3. This
    query makes the inequality visible instead of hand-tuning it: it
    READS the dim's own optimizer estimate (the number the planner will
    compare) and sets the threshold to HALF of it — broadcast is
    therefore disqualified (estimate > threshold) while the SHJ bound
    (threshold × 32 partitions = 16× the dim) passes at EVERY sf, and
    orders ≥ 3× customers keeps muchSmaller true. The SHJ-not-SMJ plan
    contract is pinned in tests/test_aqe.py; the plain-join oracle
    proves strategy choice is semantics-free. At 100 TB this is the
    dim-side pattern for joins where the build side is known-bounded
    but too big to broadcast: one shuffle, zero sorts.
    Reference anchor: the engine-mechanism family of BENCH_NOTES'
    partition-strategy charter (beyond the reference)."""
    import hashlib

    probe = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    est = int(
        probe._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    # half the measured estimate: strictly below est (disqualifies
    # broadcast) at every sf — the floor only guards degenerate stats
    # and stays below the smallest real dim estimate (sf0.001 ≈ 3.7 KB)
    thr = max(1024, est // 2)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    child = _conf_child_session(
        spark,
        f"shj-select-{tag}",
        {
            "spark.sql.join.preferSortMergeJoin": "false",
            "spark.sql.autoBroadcastJoinThreshold": str(thr),
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            "spark.sql.shuffle.partitions": "32",
        },
    )
    o = load_table(child, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    c = load_table(child, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.countDistinct("c_custkey").cast("long").alias("n_customers"),
        r6(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        ).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# R171 — WindowGroupLimit: rank-filter pushdown (partial top-k per map
# task BEFORE the shuffle)
# ---------------------------------------------------------------------------


@query(
    "window_group_limit_topn",
    oracle="""
    WITH r AS (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    )
    SELECT o_custkey, CAST(rn AS INTEGER) AS rn, o_orderkey,
           ROUND(o_totalprice, 6) AS total_price
    FROM r WHERE rn <= 3
    """,
)
def window_group_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R171: WindowGroupLimit — the optimizer mechanism behind every
    "top-N per key" query in this repo. A naive plan for
    ``ROW_NUMBER() ... WHERE rn <= 3`` shuffles EVERY order to its
    key's reducer, sorts, numbers, then throws away all but three rows
    per key; Spark's InferWindowGroupLimit rewrite (3.5+) recognizes a
    rank-function filter and inserts a WindowGroupLimit node in
    PARTIAL mode on the map side — each map task keeps only its own
    top-3 per key (a bounded per-key heap walk over the locally sorted
    run), so the shuffle carries at most 3 × keys-per-map-task rows no
    matter how many orders a customer has, and the FINAL-mode node
    re-applies the limit after the merge. The Partial+Final pair is
    pinned in tests/test_aqe.py; the ROW_NUMBER oracle proves the
    rewrite is semantics-free. This is why O3-style latest-N and O2
    leaderboards stay shuffle-sane at 100 TB: pre-shuffle pruning falls
    out of declaring the filter on the rank column, with no hand-built
    per-partition top-k. (The deterministic ORDER BY — price desc, then
    key — makes the row SET unique, so rn ≤ 3 selects identical rows on
    both engines.)
    Reference anchor: the engine-mechanism family of BENCH_NOTES'
    partition-strategy charter (beyond the reference)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            F.col("rn").cast("int").alias("rn"),
            "o_orderkey",
            r6(F.col("o_totalprice")).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# R172 — null-aware anti join: NOT IN executed as a single-key NAAJ
# broadcast hash join instead of a nested loop
# ---------------------------------------------------------------------------


@query(
    "null_aware_anti_join_census",
    oracle="""
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value
    FROM (SELECT event_type, value, NULLIF(user_id, 0) AS uk
          FROM events) e
    WHERE e.uk NOT IN (SELECT c_custkey FROM customer
                       WHERE c_mktsegment = 'BUILDING')
    GROUP BY e.event_type
    """,
)
def null_aware_anti_join_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R172: NULL-AWARE anti join — the planner mechanism behind ANSI
    ``NOT IN``, whose three-valued logic is the classic SQL trap: a row
    whose key is NULL can never satisfy NOT IN (NULL <> anything is
    UNKNOWN), and ONE NULL in the subquery empties the whole result.
    Here user_id 0 is treated as the anonymous sentinel and mapped to
    NULL (NULLIF), so the null path is LIVE in the data: anonymous
    events are excluded by the semantics, not by an explicit filter —
    which both engines must agree on. Naively these semantics need a
    nested-loop join (every left row tested against every right row
    plus the null checks); Spark's OptimizeOneRowRelationSubquery/
    ExtractSingleColumnNullAwareAntiJoin rewrite recognizes the
    single-key case and executes a BroadcastHashJoin in LeftAnti mode
    with the ``isNullAwareAntiJoin`` flag — one hash probe per fact
    row, with the engine checking the build side's null/empty cases up
    front. The plan contract (BHJ LeftAnti + the NAAJ flag, and the
    BroadcastNestedLoopJoin it replaces when the rewrite is disabled)
    is pinned in tests/test_aqe.py; the oracle is the same NOT IN in
    DuckDB — identical three-valued logic or the census differs.

    Scale: NAAJ REQUIRES the subquery side to broadcast (the rewrite is
    broadcast-only by construction — per-partition null-awareness needs
    the whole build side everywhere). That is the honest operating
    envelope: a NOT IN against a frame that scales with the data should
    be rewritten as a null-safe NOT EXISTS (anti join on <=> — J2's
    shape), which shuffles instead of broadcasting. This query's
    subquery is a selective dim slice, the intended NAAJ shape.
    Reference anchor: the engine-mechanism family of BENCH_NOTES'
    partition-strategy charter (beyond the reference)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        F.nullif(F.col("user_id"), F.lit(0)).alias("uk"),
    )
    blocked = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    ev.createOrReplaceTempView("naaj_events")
    blocked.createOrReplaceTempView("naaj_blocked")
    j = spark.sql(
        """
        SELECT event_type, value FROM naaj_events
        WHERE uk NOT IN (SELECT c_custkey FROM naaj_blocked)
        """
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        r6(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
        ).alias("sum_value"),
    )
