"""Unit tests for the training-data-pipeline operators (pack 9) and the
graph/prefix-sum primitives they are built on. Oracle equivalence is covered
by tests/test_queries_oracle.py; these are structural invariants."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from portofolio_maximizer_spark.llmdata.dedup import connected_components
from portofolio_maximizer_spark.operators.windows import (
    scalable_lag,
    scalable_prefix_sums,
    scalable_row_number,
    scalable_running_sum,
)
from portofolio_maximizer_spark.plans.queries_pipeline import (
    forward_value,
    quality_filter_funnel,
    sequence_packing_stats,
)

SF = "/root/testdata/sf0.001"


def test_scalable_running_sum_matches_global_window(spark):
    df = spark.range(0, 997).select(
        F.col("id"),
        (F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 4), 16, 10))
        .cast("long")
        .alias("k"),
        ((F.col("id") * 37) % 101).alias("v"),
    )
    got = scalable_running_sum(df, ["k", "id"], "v", out_col="rs", num_partitions=7)
    w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("rs", F.sum("v").over(w))
    assert (
        got.select("id", "rs")
        .exceptAll(want.select("id", "rs"))
        .union(want.select("id", "rs").exceptAll(got.select("id", "rs")))
        .count()
        == 0
    )


def test_scalable_running_sum_partition_invariant(spark):
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 13).alias("v")
    )
    a = scalable_running_sum(df, ["id"], "v", num_partitions=1)
    b = scalable_running_sum(df, ["id"], "v", num_partitions=11)
    assert sorted(a.select("id", "running_sum").collect()) == sorted(
        b.select("id", "running_sum").collect()
    )


def test_scalable_prefix_sums_multi_and_totals(spark):
    df = spark.range(0, 503).select(
        F.col("id"),
        ((F.col("id") * 7) % 19).alias("v"),
        (F.col("id") % 2).alias("w"),
    )
    got, totals = scalable_prefix_sums(
        df,
        ["id"],
        {"cv": "v", "cw": F.col("w")},
        num_partitions=9,
        with_totals=True,
    )
    win = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.withColumn("cv", F.sum("v").over(win)).withColumn(
        "cw", F.sum("w").over(win)
    )
    assert (
        got.select("id", "cv", "cw")
        .exceptAll(want.select("id", "cv", "cw"))
        .count()
        == 0
    )
    agg = df.agg(F.sum("v"), F.sum("w")).first()
    assert totals == {"cv": agg[0], "cw": agg[1]}


def test_scalable_row_number_desc_order(spark):
    df = spark.range(0, 301).select(
        F.col("id"), ((F.col("id") * 13) % 97).alias("s")
    )
    got, total = scalable_row_number(
        df,
        [F.col("s").desc(), F.col("id")],
        out_col="rn",
        num_partitions=8,
        with_total=True,
    )
    want = df.withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("s").desc(), F.col("id"))),
    )
    assert total == 301
    assert (
        got.select("id", "rn").exceptAll(want.select("id", "rn")).count() == 0
    )


def test_scalable_lag_matches_global_window(spark):
    df = spark.range(0, 400).select(
        F.col("id"), ((F.col("id") * 31) % 211).alias("v")
    )
    got = scalable_lag(df, ["v", "id"], "v", out_col="pv", num_partitions=13)
    want = df.withColumn(
        "pv", F.lag("v").over(Window.orderBy("v", "id"))
    )
    assert (
        got.select("id", "pv").exceptAll(want.select("id", "pv")).count()
        == 0
    )
    assert got.filter(F.col("pv").isNull()).count() == 1


def test_scalable_lag_null_values_exact(spark):
    # NULL values mid-stream must lag as NULL (not the partition-boundary
    # value), and a NULL last-value must carry NULL into the next
    # partition — the round-7 coalesce backfilled both wrongly.
    df = spark.range(0, 200).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, F.col("id") * 2).alias("v"),
    )
    got = scalable_lag(df, ["id"], "v", out_col="pv", num_partitions=7)
    want = df.withColumn("pv", F.lag("v").over(Window.orderBy("id")))
    assert (
        got.select("id", "pv").exceptAll(want.select("id", "pv")).count()
        == 0
    )
    # 2 of 3 values are NULL → roughly two-thirds of lags are NULL
    assert got.filter(F.col("pv").isNull()).count() == want.filter(
        F.col("pv").isNull()
    ).count()


def test_scalable_prefix_sums_all_null_partition(spark):
    # an all-NULL value range used to crash the driver fold with a
    # TypeError (None += int); NULLs now count as 0 in the running sum
    df = spark.range(0, 90).select(
        F.col("id"),
        F.when(F.col("id") >= 60, F.lit(1)).cast("long").alias("v"),
    )
    got, totals = scalable_prefix_sums(
        df, ["id"], {"cv": "v"}, num_partitions=9, with_totals=True
    )
    assert totals == {"cv": 30}
    rows = {r["id"]: r["cv"] for r in got.collect()}
    assert rows[0] == 0 and rows[59] == 0 and rows[89] == 30


def test_connected_components_fixture_graph(spark):
    # chain 1-2-3-4, triangle 10-11-12, pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "d1 long, d2 long",
    )
    labels = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    # worst case for min-label propagation: a path graph; still must converge
    n = 24
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "d1 long, d2 long"
    )
    out = connected_components(edges)
    assert out.select("component").distinct().collect()[0]["component"] == 0
    assert out.count() == n + 1


def test_funnel_telescopes(spark):
    rows = quality_filter_funnel(spark, SF).orderBy("rule_id").collect()
    assert [r["rule_id"] for r in rows] == [1, 2, 3, 4, 5]
    for prev, cur in zip(rows, rows[1:]):
        assert prev["n_out"] == cur["n_in"]
    for r in rows:
        assert r["n_out"] == r["n_in"] - r["n_rejected"]
        assert r["n_rejected"] >= 0


def test_sequence_packing_conserves_tokens(spark):
    rows = sequence_packing_stats(spark, SF).collect()
    total = sum(r["n_tokens"] for r in rows)
    # last bin index must cover exactly the total token run
    assert max(r["bin_end"] for r in rows) == (total - 1) // 512
    for r in rows:
        assert r["bin_start"] <= r["bin_end"]
        assert r["n_bins_spanned"] == r["bin_end"] - r["bin_start"] + 1
        assert r["is_split"] == (1 if r["bin_end"] > r["bin_start"] else 0)


def test_hll_distinct_within_rsd(spark):
    from portofolio_maximizer_spark.plans.queries_pipeline import (
        hll_distinct_fingerprints,
    )

    rows = hll_distinct_fingerprints(spark, SF).collect()
    assert rows
    assert all(r["hll_within_3rsd"] for r in rows)
    # numeric pin of the estimate the in-query flag summarizes: recompute
    # the HLL estimate directly and bound its relative error
    from pyspark.sql import functions as F

    from portofolio_maximizer_spark.llmdata.textstats import bow_fingerprint
    from portofolio_maximizer_spark.sources.catalog import load_table

    est = (
        load_table(spark, SF, "documents")
        .select("source", bow_fingerprint(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.approx_count_distinct("fp").alias("approx"),
            F.countDistinct("fp").alias("exact"),
        )
        .collect()
    )
    exact_by_source = {r["source"]: r["exact_distinct_docs"] for r in rows}
    for r in est:
        assert r["exact"] == exact_by_source[r["source"]]
        assert abs(r["approx"] - r["exact"]) <= max(2, 0.1 * r["exact"]), (
            r["source"], r["exact"], r["approx"],
        )


def test_heavy_hitters_equal_exact(spark):
    from portofolio_maximizer_spark.llmdata.textstats import tokens
    from portofolio_maximizer_spark.plans.queries_pipeline import heavy_hitter_tokens
    from portofolio_maximizer_spark.sources.catalog import load_table

    got = {
        (r["token"], r["n_occurrences"])
        for r in heavy_hitter_tokens(spark, SF).collect()
    }
    tok = load_table(spark, SF, "documents").select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    total = tok.count()
    want = {
        (r["token"], r["n"])
        for r in tok.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()
        if r["n"] * 50 >= total
    }
    assert got == want


def test_scalable_primitives_hypothesis_style(spark):
    """Randomized-but-seeded equivalence sweep for the two-pass
    primitives vs their single-partition-window definitions: several
    (size, partitions, value-range) combinations incl. duplicate order
    keys ahead of the unique tiebreaker and negative values."""
    import random

    rnd = random.Random(20260815)
    for trial in range(4):
        n = rnd.choice([3, 17, 101, 463])
        parts = rnd.choice([1, 3, 8, 19])
        rows = [
            (i, rnd.randrange(0, max(2, n // 5)), rnd.randrange(-50, 50))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, k long, v long")
        got = scalable_prefix_sums(
            df, ["k", "id"], {"cv": "v"}, num_partitions=parts
        )
        w = Window.orderBy("k", "id").rowsBetween(
            Window.unboundedPreceding, 0
        )
        want = df.withColumn("cv", F.sum("v").over(w))
        assert (
            got.select("id", "cv").exceptAll(want.select("id", "cv")).count()
            == 0
        ), (trial, n, parts)
        lag_got = scalable_lag(
            df, ["k", "id"], "v", out_col="pv", num_partitions=parts
        )
        lag_want = df.withColumn(
            "pv", F.lag("v").over(Window.orderBy("k", "id"))
        )
        assert (
            lag_got.select("id", "pv")
            .exceptAll(lag_want.select("id", "pv"))
            .count()
            == 0
        ), (trial, n, parts)


def test_closed_form_ntile_matches_spark_ntile(spark):
    """The shared closed-form NTILE (three query families rank through
    it) must equal Spark's own NTILE for every (total, n) shape class:
    total < n, total % n == 0, and a ragged remainder."""
    from pyspark.sql import Window

    from portofolio_maximizer_spark.operators.windows import (
        closed_form_ntile,
    )

    for total, n in [(5, 32), (64, 32), (100, 7), (1, 3), (97, 10)]:
        df = spark.range(1, total + 1).select(F.col("id").alias("rk"))
        got = df.select(
            "rk", closed_form_ntile(F.col("rk"), total, n).alias("tile")
        )
        want = df.select(
            "rk",
            F.ntile(n).over(Window.orderBy("rk")).alias("tile"),
        )
        g = {r.rk: r.tile for r in got.collect()}
        w = {r.rk: r.tile for r in want.collect()}
        assert g == w, (total, n)


def test_forward_value_matches_offset_self_join(spark):
    """``forward_value`` equals the left self-join on (key, rn + k % 5 + 1)
    it replaced, including negative ``k``: Spark's ``%`` keeps the
    dividend's sign, so the offset spans [-3, 5] and reads backward rows,
    the row itself at 0, and NULL past either end."""
    df = spark.range(0, 240).select(
        (F.col("id") % 3).alias("user_id"),
        F.col("id").alias("ts"),
        (F.col("id") * 1.5 + 1).alias("value"),
        F.when(F.col("id") % 11 == 0, F.lit(None))
        .otherwise((F.col("id") * 7) % 41 - 20)
        .cast("int")
        .alias("k"),
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    offset = (F.col("k") % 5) + 1
    s = df.select(
        "user_id",
        "value",
        "k",
        offset.alias("offset"),
        F.row_number().over(w).alias("rn"),
        forward_value("value", offset, w).alias("got"),
    )
    fwd = s.select(
        F.col("user_id").alias("f_user"),
        F.col("rn").alias("f_rn"),
        F.col("value").alias("want"),
    )
    joined = s.join(
        fwd,
        (F.col("f_user") == F.col("user_id"))
        & (F.col("f_rn") == F.col("rn") + F.col("offset")),
        "left",
    ).cache()
    try:
        assert joined.count() == 240
        assert joined.filter(~F.col("got").eqNullSafe(F.col("want"))).count() == 0
        offsets = {r[0] for r in joined.select("offset").distinct().collect()}
        assert offsets == set(range(-3, 6)) | {None}
        # backward reads, the row itself, and both partition ends occur
        assert joined.filter((F.col("offset") < 0) & F.col("want").isNotNull()).count() > 0
        assert joined.filter((F.col("offset") == 0) & (F.col("got") == F.col("value"))).count() > 0
        assert joined.filter(F.col("k").isNotNull() & F.col("want").isNull()).count() > 0
    finally:
        joined.unpersist()
