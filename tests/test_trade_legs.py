"""The one-pass round-trip lots (``queries_trades._trade_legs``).

The close lot sums every leg at an order's max line number and the open
lot sums its unflagged line-1 legs. ``_trade_legs`` derives both in one
lineitem pass (a max-line window, then one CASE-guarded groupBy). The
reference below is the three-scan form it replaced: a grouped max-line,
the close legs joined back to it, and a separately filtered open
aggregate, LEFT JOINed on the order key. The two must agree row for row,
bit for bit, on the test data and on a lineitem built to hit the lot
rules' edge cases.
"""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from portofolio_maximizer_spark.plans.queries_trades import (
    _closed_trades,
    _trade_legs,
)
from portofolio_maximizer_spark.sources.catalog import load_table

LOTS = [
    "cq", "cnet", "cship", "close_d", "ctax", "bar_high", "bar_low",
    "oq", "onet", "oship", "ostatus",
]


def _reference_legs(spark, sf_dir, decimal_net):
    """The three-scan lot derivation: closes LEFT JOIN opens."""
    li = load_table(spark, sf_dir, "lineitem")
    if decimal_net:
        net = F.col("l_extendedprice").cast("decimal(18,2)") * (
            F.lit(1) - F.col("l_discount")
        ).cast("decimal(5,2)")
    else:
        net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    mx = li.groupBy("l_orderkey").agg(F.max("l_linenumber").alias("maxline"))
    closes = (
        li.join(
            mx,
            (li.l_orderkey == mx.l_orderkey) & (li.l_linenumber == mx.maxline),
        )
        .drop(mx.l_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("cq"),
            F.sum(net).alias("cnet"),
            F.max("l_shipdate").alias("cship"),
            F.to_date(F.max("l_shipdate")).alias("close_d"),
            F.min("l_tax").alias("ctax"),
            F.max(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "bar_high"
            ),
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "bar_low"
            ),
        )
    )
    opens = (
        li.filter((F.col("l_linenumber") == 1) & (F.col("l_returnflag") != "R"))
        .groupBy("l_orderkey")
        .agg(
            F.sum("l_quantity").alias("oq"),
            F.sum(net).alias("onet"),
            F.min("l_shipdate").alias("oship"),
            F.max("l_linestatus").alias("ostatus"),
        )
        .withColumn("has_open", F.lit(True))
    )
    return closes.join(opens, "l_orderkey", "left").select(
        "l_orderkey", *LOTS, F.coalesce("has_open", F.lit(False)).alias("has_open")
    )


def _rows(df):
    return sorted(df.collect(), key=lambda r: r["l_orderkey"])


def _assert_same_lots(spark, sf_dir, decimal_net):
    got = _trade_legs(spark, sf_dir, decimal_net).select(
        "l_orderkey", *LOTS, (F.col("n_open") > 0).alias("has_open")
    )
    want = _reference_legs(spark, sf_dir, decimal_net)
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    got_rows, want_rows = _rows(got), _rows(want)
    assert len(got_rows) == len(want_rows) > 0
    assert got_rows == want_rows


@pytest.mark.parametrize("decimal_net", [False, True])
def test_one_pass_lots_match_three_scan_reference(spark, sf_dir, decimal_net):
    _assert_same_lots(spark, sf_dir, decimal_net)


def _leg(key, line, qty, price, flag="N", status="F", day=1, tax=0.02):
    return {
        "l_orderkey": key,
        "l_partkey": 1,
        "l_suppkey": 1,
        "l_linenumber": line,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": 0.05,
        "l_tax": tax,
        "l_returnflag": flag,
        "l_linestatus": status,
        "l_shipdate": pd.Timestamp("1995-01-01") + pd.Timedelta(days=day),
    }


EDGE_LEGS = [
    # ties at the max line: three legs share line 3
    _leg(1, 1, 5.0, 100.0), _leg(1, 2, 1.0, 30.0),
    _leg(1, 3, 2.0, 41.5, day=9, tax=0.05), _leg(1, 3, 3.0, 70.25, day=7),
    _leg(1, 3, 0.5, 12.0, day=8, tax=0.01),
    # two line-1 legs, both unflagged
    _leg(2, 1, 4.0, 80.0, status="O", day=3), _leg(2, 1, 6.0, 90.0, day=2),
    _leg(2, 2, 10.0, 200.0, day=6),
    # an 'R' line 1 beside an unflagged line 1: only the latter opens
    _leg(3, 1, 7.0, 140.0, flag="R", day=1), _leg(3, 1, 2.0, 44.0, day=4),
    _leg(3, 2, 9.0, 150.0, day=5),
    # no open lot: no line 1 at all
    _leg(4, 2, 3.0, 60.0), _leg(4, 3, 1.0, 25.0, day=4),
    # no open lot: the only line 1 is flagged
    _leg(5, 1, 2.0, 40.0, flag="R"), _leg(5, 2, 2.0, 42.0, day=3),
    # a single-line order: line 1 is both lots
    _leg(6, 1, 8.0, 160.0, status="O", day=2),
    # a NULL line number beside numbered legs, and an all-NULL order
    _leg(7, None, 5.0, 50.0), _leg(7, 1, 1.0, 10.0), _leg(7, 2, 1.0, 11.0, day=3),
    _leg(8, None, 4.0, 40.0),
    # a NULL order key on an unflagged line 1
    _leg(None, 1, 1.0, 10.0),
]


@pytest.mark.parametrize("decimal_net", [False, True])
def test_one_pass_lots_match_reference_on_edge_cases(spark, tmp_path, decimal_net):
    pdf = pd.DataFrame(EDGE_LEGS).astype(
        {"l_orderkey": "Int64", "l_linenumber": "Int32"}
    )
    pdf["l_shipdate"] = pdf["l_shipdate"].astype("datetime64[us]")
    pdf.to_parquet(tmp_path / "lineitem.parquet", index=False)
    _assert_same_lots(spark, str(tmp_path), decimal_net)
    lots = {r["l_orderkey"]: r for r in _trade_legs(spark, str(tmp_path)).collect()}
    # every order with a numbered leg has a close lot; open lots are exact
    assert sorted(lots) == [1, 2, 3, 4, 5, 6, 7]
    assert {k for k, r in lots.items() if r["n_open"] > 0} == {1, 2, 3, 6, 7}
    assert lots[1]["cq"] == 5.5 and lots[2]["oq"] == 10.0 and lots[3]["oq"] == 2.0
    assert lots[4]["oq"] is None and lots[5]["onet"] is None
    assert lots[6]["cq"] == lots[6]["oq"] == 8.0


def test_closed_trades_scan_lineitem_once(spark, sf_dir):
    """One lineitem relation in the optimized plan (three for the
    grouped max-line joined back to the legs, plus the open scan)."""
    plan = _closed_trades(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
    assert len(re.findall(r"Relation \[l_orderkey#", plan.toString())) == 1
