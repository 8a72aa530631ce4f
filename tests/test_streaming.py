"""Structured Streaming operators (§2.9): batch-equivalence under
availableNow replay — the streaming answer must equal the batch answer on
the same data (and the stateful circuit breaker must be deterministic)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from portofolio_maximizer_spark import streaming as ST
from portofolio_maximizer_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_tumbling_rollup_matches_batch(spark, sf_dir, batch_events):
    out = ST.run_to_memory(
        ST.tumbling_value_rollup(ST.events_stream(spark, sf_dir)),
        "t_tumbling",
        output_mode="append",
    )
    batch = (
        batch_events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "sum_value")
    )
    got = {
        (r.win_start, r.event_type): (r.n, r.sum_value)
        for r in out.collect()
    }
    want = {
        (r.win_start, r.event_type): (r.n, r.sum_value)
        for r in batch.collect()
    }
    # availableNow + append emits only windows closed by the final watermark;
    # every emitted window must agree exactly with the batch rollup.
    assert got, "stream produced no finalized windows"
    for k, v in got.items():
        assert want[k] == v
    assert len(got) >= len(want) - 2  # at most the tail windows still open


def test_session_rollup_matches_batch_sessionize(spark, sf_dir, batch_events):
    from portofolio_maximizer_spark.operators.windows import sessionize

    out = ST.run_to_memory(
        ST.session_rollup(ST.events_stream(spark, sf_dir), gap="30 minutes"),
        "t_sessions",
    )
    batch_n = (
        sessionize(batch_events, ["user_id"], "ts", gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .count()
    )
    # Session count and event-per-session multiset must line up for every
    # user whose sessions are all finalized (all but possibly the last).
    got = out.groupBy("user_id").agg(
        F.sum("n_events").alias("events"), F.count(F.lit(1)).alias("sessions")
    )
    want = batch_n.groupBy("user_id").agg(
        F.sum("count").alias("events"), F.count(F.lit(1)).alias("sessions")
    )
    g = {r.user_id: (r.events, r.sessions) for r in got.collect()}
    w = {r.user_id: (r.events, r.sessions) for r in want.collect()}
    assert g, "no sessions emitted"
    close_enough = sum(
        1 for u in g if u in w and abs(g[u][1] - w[u][1]) <= 1 and g[u][0] <= w[u][0]
    )
    assert close_enough == len(g)


def test_dedupe_within_watermark(spark, sf_dir):
    stream = ST.events_stream(spark, sf_dir)
    out = ST.run_to_memory(ST.dedupe_within_watermark(stream), "t_dedupe")
    n = out.count()
    distinct = out.select("user_id", "event_id").distinct().count()
    assert n == distinct > 0


def test_vol_spike_alerts_deterministic(spark, sf_dir):
    out = ST.run_to_memory(
        ST.vol_spike_alerts(ST.events_stream(spark, sf_dir)), "t_alerts"
    ).collect()
    # schema + bounded-history invariants; rerun must agree exactly
    for r in out:
        assert r.vol_ratio > 2.0
        assert r.n_history <= 64
    again = ST.run_to_memory(
        ST.vol_spike_alerts(ST.events_stream(spark, sf_dir)), "t_alerts2"
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_sliding_window_stats(spark, sf_dir, batch_events):
    """Sliding windows: every event lands in width/slide windows; each
    emitted (window, user) vol must equal the batch computation."""
    out = ST.run_to_memory(
        ST.sliding_value_stats(ST.events_stream(spark, sf_dir)), "t_sliding"
    )
    batch = (
        batch_events.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.stddev_samp("value"), 6).alias("vol"))
        .select(F.col("win.start").alias("win_start"), "user_id", "n", "vol")
    )
    got = {(r.win_start, r.user_id): (r.n, r.vol) for r in out.collect()}
    want = {(r.win_start, r.user_id): (r.n, r.vol) for r in batch.collect()}
    assert got, "no sliding windows emitted"
    for k, v in got.items():
        assert want[k] == v


def test_stream_static_enrichment_matches_batch(spark, sf_dir, batch_events):
    """Stream-static join + rollup must equal the same join done in batch
    for every finalized window."""
    import __spark_entry__ as entrymod

    out = entrymod.queries()["streaming_enriched_rollup"](
        spark, sf_dir
    )
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("error", "ops"), ("login", "auth")],
        "event_type string, category string",
    )
    batch = (
        batch_events.join(dim, "event_type", "left")
        .groupBy(F.window("ts", "6 hours").alias("win"), "category")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.unix_millis(F.col("win.start")).alias("win_start_ms"),
            "category", "n", "sum_value",
        )
    )
    got = {(r.win_start_ms, r.category): (r.n, r.sum_value) for r in out.collect()}
    want = {(r.win_start_ms, r.category): (r.n, r.sum_value) for r in batch.collect()}
    assert got
    for k, v in got.items():
        assert want[k] == v


def test_foreachbatch_upsert_sink_matches_batch(spark, sf_dir, tmp_path):
    """T1+S7: draining the events stream through the foreachBatch upsert
    sink must land exactly the batch table's rows (newest-wins on
    event_id), partitioned by event_type, and be idempotent on re-drain."""
    from portofolio_maximizer_spark.sources.catalog import load_table
    from portofolio_maximizer_spark.streaming import events_stream, run_upsert_sink

    path = str(tmp_path / "landed")
    ck = str(tmp_path / "ck")
    stream = events_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    run_upsert_sink(
        stream, path, keys=["event_id"], partition_col="event_type",
        checkpoint_dir=ck,
    )
    landed = spark.read.parquet(path)
    batch = load_table(spark, sf_dir, "events")
    assert landed.count() == batch.select("event_id").distinct().count()
    # partition layout is real (hive dirs per event_type)
    import os

    dirs = [d for d in os.listdir(path) if d.startswith("event_type=")]
    assert len(dirs) == batch.select("event_type").distinct().count()
    # re-draining with the same checkpoint processes nothing new (exactly-once)
    run_upsert_sink(
        stream, path, keys=["event_id"], partition_col="event_type",
        checkpoint_dir=ck,
    )
    assert spark.read.parquet(path).count() == landed.count()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    """The streaming interval join must emit exactly the batch join's
    matches once drained (availableNow processes everything; watermarks
    only bound state)."""
    from pyspark.sql import functions as F

    from portofolio_maximizer_spark.plans import QUERIES
    from portofolio_maximizer_spark.sources.catalog import load_table

    got = (
        QUERIES["streaming_view_purchase_join"](spark, sf_dir)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    batch = (
        buys.join(
            views,
            F.expr(
                "b_user = v_user AND view_ts <= buy_ts "
                "AND view_ts >= buy_ts - INTERVAL 2 hours"
            ),
        )
        .groupBy(F.col("b_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed_views"),
            F.countDistinct("buy_id").alias("n_purchases"),
            F.round(F.sum("view_value"), 6).alias("sum_view_value"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    import pandas as pd

    assert len(got) == len(batch) > 0
    pd.testing.assert_frame_equal(got, batch, check_dtype=False)


import importlib.util

import pytest


def _has_protobuf() -> bool:
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (not in container)",
)
def test_transform_with_state_matches_classic(spark, sf_dir):
    """The transformWithState (Spark 4) vol-spike operator must emit
    exactly the rows the classic applyInPandasWithState operator emits
    on the same drained input."""
    from portofolio_maximizer_spark.streaming.stream import (
        run_to_memory,
        vol_spike_alerts,
        vol_spike_alerts_tws,
    )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        classic = run_to_memory(
            vol_spike_alerts(
                ST.events_stream(spark, sf_dir).filter(F.col("user_id") < 30)
            ),
            "t_vol_classic",
        ).collect()
        prev_prov = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        try:
            modern = run_to_memory(
                vol_spike_alerts_tws(
                    ST.events_stream(spark, sf_dir).filter(F.col("user_id") < 30)
                ),
                "t_vol_tws",
            ).collect()
        finally:
            if prev_prov:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev_prov
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    assert sorted(map(tuple, modern)) == sorted(map(tuple, classic))
    assert len(classic) > 0  # the fixture actually produces alerts


def test_streaming_queries_nonempty(spark, sf_dir):
    """Every rows-only streaming queries() entry must drain >0 rows.

    Guard against the r3 failure mode where a schema/encoding shift in the
    events parquet made the watermark never advance, so append-mode drains
    returned 0 rows and the driver bench timed the empty result as a
    'successful' 4-second query — silent wrongness this test makes loud.
    """
    from portofolio_maximizer_spark.plans import QUERIES as qs
    streaming_names = [n for n in qs if n.startswith("streaming_")]
    assert streaming_names, "no streaming queries registered"
    for name in streaming_names:
        n = qs[name](spark, sf_dir).count()
        assert n > 0, f"{name} drained 0 rows at {sf_dir}"


def test_drain_memoization_identical_and_probed(spark, sf_dir):
    """r8: repeat calls of a memoized streaming query return the SAME
    rows (the memoized drain is a pinned localCheckpoint of a
    deterministic availableNow drain), and a cache entry whose blocks are
    lost is rebuilt, not served (the full-scan ``count()`` probe)."""
    from portofolio_maximizer_spark.operators import memo
    from portofolio_maximizer_spark.plans import QUERIES as qs

    a = sorted(map(tuple, qs["streaming_vol_alerts"](spark, sf_dir).collect()))
    b = sorted(map(tuple, qs["streaming_vol_alerts"](spark, sf_dir).collect()))
    assert a == b and a

    # poison the cache entry for this (app, name, sf_dir): a frame whose
    # probe scan fails the way lost checkpoint blocks do must be evicted
    # and rebuilt transparently
    key = (spark.sparkContext.applicationId, "q_stream_alerts", sf_dir)
    assert key in memo._CHECKPOINT_CACHE

    class _Poison:
        def count(self):
            raise RuntimeError("lost checkpoint blocks")

    memo._CHECKPOINT_CACHE[key] = _Poison()
    c = sorted(map(tuple, qs["streaming_vol_alerts"](spark, sf_dir).collect()))
    assert c == a
    assert memo._CHECKPOINT_CACHE[key].__class__.__name__ != "_Poison"


def test_drain_progress_evidence_recorded(spark, sf_dir, batch_events):
    """Every keyed drain must land its StreamingQueryProgress summary in
    DRAIN_PROGRESS — the attribution channel scalecheck uses because
    micro-batches run outside the caller's job group. Input rows must
    equal the events table (one availableNow pass over all input)."""
    key = ("t_prog_evidence", str(sf_dir))
    ST.DRAIN_PROGRESS.pop(key, None)
    out = ST.run_to_memory(
        ST.tumbling_value_rollup(ST.events_stream(spark, sf_dir)),
        "t_prog_evidence",
        output_mode="append",
        cache_key=str(sf_dir),
    )
    assert out.count() > 0
    rec = ST.DRAIN_PROGRESS[key]
    assert rec["n_batches"] >= 1
    assert rec["input_rows"] == batch_events.count()
    assert rec["state_rows_peak"] > 0  # windowed agg carries state
    assert rec["trigger_ms"] > 0


def test_drain_restores_progress_conf_and_stamps_seq(spark, sf_dir):
    """ADVICE r9: run_to_memory must not leave the 10k-entry
    numRecentProgressUpdates cap set on the caller's session (a shared
    session would retain progress JSON for every later streaming
    query), and every drain record carries a monotonic seq stamp so a
    metric-identical re-drain still compares unequal in scalecheck."""
    key = "spark.sql.streaming.numRecentProgressUpdates"
    before = spark.conf.get(key)
    stream = ST.events_stream(spark, sf_dir)
    ST.run_to_memory(
        ST.tumbling_value_rollup(stream), "t_conf_restore_probe"
    )
    assert spark.conf.get(key) == before
    rec = ST.DRAIN_PROGRESS[("t_conf_restore_probe", None)]
    assert "seq" in rec
    ST.run_to_memory(
        ST.tumbling_value_rollup(ST.events_stream(spark, sf_dir)),
        "t_conf_restore_probe",
    )
    rec2 = ST.DRAIN_PROGRESS[("t_conf_restore_probe", None)]
    assert rec2["seq"] > rec["seq"]


def test_outer_join_drain_equals_batch_left_join(spark, sf_dir):
    """The left-outer stream-stream drain (sentinel-advanced watermark +
    no-data flush batch) must land EXACTLY the batch LEFT OUTER interval
    join — every unmatched view emitted once with NULL purchase columns,
    no sentinel rows leaking into the output."""
    from portofolio_maximizer_spark.plans.queries_models import (
        streaming_outer_attribution,
    )
    from portofolio_maximizer_spark.sources.catalog import load_table

    got = {
        r["user_id"]: (r["n_rows"], r["n_matched"], r["n_unmatched"])
        for r in streaming_outer_attribution(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    ref = v.join(
        b,
        F.expr(
            "v_user = b_user AND buy_ts >= view_ts "
            "AND buy_ts <= view_ts + INTERVAL 2 hours"
        ),
        "leftOuter",
    )
    want = {
        r["v_user"]: (r["n_rows"], r["n_matched"], r["n_unmatched"])
        for r in ref.groupBy("v_user")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("buy_id").alias("n_matched"),
            F.sum(F.col("buy_id").isNull().cast("int")).alias("n_unmatched"),
        )
        .collect()
    }
    assert got == want
    assert all(u >= 0 for u in got)  # sentinels fenced
    assert sum(n for _, _, n in got.values()) > 0  # outer rows really emit


def test_observed_metrics_three_way_agreement(spark, sf_dir):
    """T9: the observe() channel, the source-side numInputRows and the
    drained rollup must all account for the SAME rows — the plan-side
    self-audit a production ingest relies on."""
    from portofolio_maximizer_spark.plans.queries_models import (
        streaming_observed_ingest,
    )
    from portofolio_maximizer_spark.sources.catalog import load_table

    out = streaming_observed_ingest(spark, sf_dir)
    total = out.agg(F.sum("n_events")).first()[0]
    rec = ST.DRAIN_PROGRESS[("q_stream_observed_ingest", sf_dir)]
    assert rec["observed"]["ingest.rows"] == total
    assert rec["input_rows"] == total
    ev = load_table(spark, sf_dir, "events")
    assert total == ev.count()
    # value mass agrees with the batch sum to float tolerance
    batch_mass = ev.agg(F.sum("value")).first()[0]
    assert abs(rec["observed"]["ingest.value_mass"] - batch_mass) < 1e-6 * max(
        1.0, abs(batch_mass)
    )


def test_rocksdb_state_store_provider_equality(spark, sf_dir):
    """Round-10 directive #3: the dedup drain on the bundled RocksDB
    state-store provider must produce EXACTLY the default
    (HDFS-backed, executor-heap) provider's rows, and the evidence
    channel must say which provider served — including engine-side
    proof (rocksdb custom metrics appear in the progress events only
    when RocksDB actually ran the state)."""

    def drain(provider, qname):
        child = ST.drain_session(spark, state_provider=provider)
        st = ST.events_stream(child, sf_dir)
        redelivered = st.unionByName(st.filter(F.col("event_id") % 3 == 0))
        out = ST.run_to_memory(
            ST.dedupe_within_watermark(redelivered), qname
        )  # no cache_key: both drains must really run
        return sorted(
            (r.user_id, r.event_id) for r in out.collect()
        )

    default_rows = drain(None, "t_rocks_default")
    rocks_rows = drain("rocksdb", "t_rocks_rocksdb")
    assert rocks_rows == default_rows
    assert len(rocks_rows) > 0
    d_rec = ST.DRAIN_PROGRESS[("t_rocks_default", None)]
    r_rec = ST.DRAIN_PROGRESS[("t_rocks_rocksdb", None)]
    assert d_rec["state_provider"] == "HDFSBackedStateStoreProvider"
    assert d_rec["rocksdb_metrics_seen"] is False
    assert r_rec["state_provider"] == "RocksDBStateStoreProvider"
    assert r_rec["rocksdb_metrics_seen"] is True
    # both providers saw the same stream and carried real state
    assert r_rec["input_rows"] == d_rec["input_rows"] > 0
    assert r_rec["state_rows_peak"] > 0


def test_session_rollup_rocksdb_matches_batch(spark, sf_dir, batch_events):
    """The session-window drain on RocksDB equals the batch
    sessionization — the second oracle-backed streaming shape pinned
    provider-invariant (state here is merge-heavy RANGE state, a
    different access pattern from dedup's point lookups)."""
    child = ST.drain_session(spark, state_provider="rocksdb")
    out = ST.run_to_memory(
        ST.session_rollup(ST.events_stream(child, sf_dir), gap="30 minutes"),
        "t_rocks_sessions",
    )
    rec = ST.DRAIN_PROGRESS[("t_rocks_sessions", None)]
    assert rec["state_provider"] == "RocksDBStateStoreProvider"
    assert rec["rocksdb_metrics_seen"] is True
    from pyspark.sql import Window

    gap_ms = 30 * 60 * 1000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = batch_events.withColumn(
        "gap_ms",
        F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w)),
    ).withColumn(
        "sid",
        F.sum(
            (
                F.col("gap_ms").isNull() | (F.col("gap_ms") >= gap_ms)
            ).cast("int")
        ).over(w),
    )
    wm = batch_events.agg(
        (F.unix_millis(F.max("ts")) - gap_ms).alias("wm")
    ).collect()[0].wm
    batch = (
        e.groupBy("user_id", "sid")
        .agg(
            F.unix_millis(F.min("ts")).alias("start_ms"),
            F.count(F.lit(1)).alias("n"),
            F.unix_millis(F.max("ts")).alias("end_ms"),
        )
        .filter(F.col("end_ms") + gap_ms <= wm)
    )
    got = sorted(
        (r.user_id, r.start_ms, r.n_events)
        for r in out.select(
            "user_id",
            F.unix_millis("session_start").alias("start_ms"),
            "n_events",
        ).collect()
    )
    want = sorted((r.user_id, r.start_ms, r.n) for r in batch.collect())
    assert got == want and len(got) > 0


def test_late_drop_counter_reconciles_with_batch_census(spark, sf_dir):
    """T11's engine-side evidence: after the late-drop drain, the
    summed numRowsDroppedByWatermark (DRAIN_PROGRESS.rows_dropped_late)
    must equal the batch-computed planted-late count — odd event_ids
    whose 1h tumbling window closes strictly below W0 = floor_ms(max
    even ts) - 30min. Output-side equality is the query's oracle; this
    pins the COUNTER so the evidence channel cannot silently decay into
    zeros (the failure mode the first T11 draft had: an operator that
    never refuses anything still produces a green-looking census)."""
    from portofolio_maximizer_spark.plans import QUERIES

    census = QUERIES["streaming_late_drop_census"](spark, sf_dir)
    delivered = census.agg(F.sum("n_delivered")).first()[0]
    rec = ST.DRAIN_PROGRESS[("q_stream_late_drop", sf_dir)]
    ev = load_table(spark, sf_dir, "events")
    w0_us = (
        ev.filter(F.col("event_id") % 2 == 0)
        .agg((F.floor(F.unix_millis(F.max("ts"))) - F.lit(1800000)))
        .first()[0]
    ) * 1000
    wend_us = (
        F.floor(F.unix_micros(F.col("ts")) / F.lit(3600000000.0)).cast(
            "long"
        )
        + 1
    ) * F.lit(3600000000).cast("long")
    # <= mirrors the query's file-C routing (round-11 ADVICE #1): a row
    # whose window END equals W0 is already finalized (exclusive end)
    expected_late = (
        ev.filter(F.col("event_id") % 2 == 1)
        .filter(wend_us <= F.lit(w0_us))
        .count()
    )
    assert expected_late > 0  # the plant is non-vacuous at test SFs
    # FULL accounting: input = delivered + refused + the sentinel's
    # still-open window. Delivered-side equality is the query's oracle;
    # here the drop side must close the books exactly.
    assert rec["input_rows"] == ev.count() + 1  # + the sentinel
    assert rec["input_rows"] - delivered - 1 == expected_late
    # the ENGINE's counter moves, but undercounts: rows so old they fall
    # behind the pre-state watermark filter are dropped WITHOUT touching
    # numRowsDroppedByWatermark (measured: 480 counted of 498 refused at
    # sf0.01) — which is exactly why the output-side oracle, not the
    # counter, is the correctness gate; the counter is evidence that the
    # stateful refusal path really ran
    assert 0 < rec["rows_dropped_late"] <= expected_late


# ---------------------------------------------------------------------------
# T12 — transformWithStateInPandas timers (round-11 directive #2)
# ---------------------------------------------------------------------------


def test_tws_idle_census_timer_only_output_and_api_evidence(spark, sf_dir):
    """The idle-expiry census emits rows ONLY from handleExpiredTimer —
    output equals the batch GROUP BY exactly (the query's oracle at the
    driver; re-asserted here against Spark batch), and DRAIN_PROGRESS
    names the TWS operator + RocksDB provider as engine-side proof of
    which API served the drain."""
    from portofolio_maximizer_spark.plans import QUERIES
    from portofolio_maximizer_spark.streaming.stream import _IDLE_TTL_MS

    out = QUERIES["streaming_idle_expiry_census"](spark, sf_dir)
    got = sorted(map(tuple, out.collect()))
    ev = load_table(spark, sf_dir, "events")
    truth = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("value") * 1e6).cast("long"))
            .cast("long")
            .alias("sum_value_micros"),
            F.floor(F.unix_millis(F.max("ts")))
            .cast("long")
            .alias("last_ts_ms"),
        )
        .withColumn(
            "expired_at_ms",
            (F.col("last_ts_ms") + F.lit(_IDLE_TTL_MS)).cast("long"),
        )
    )
    assert got == sorted(map(tuple, truth.collect()))
    assert len(got) > 0
    rec = ST.DRAIN_PROGRESS[("q_stream_idle_census", sf_dir)]
    assert rec["state_operator_names"] == ["transformWithStateInPandasExec"]
    assert rec["state_provider"] == "RocksDBStateStoreProvider"
    assert rec["rocksdb_metrics_seen"] is True
    # timers fired for every key: each emitted row exists only because
    # the watermark passed its expiry in the flush batch
    assert all(row[4] == row[3] + _IDLE_TTL_MS for row in got)


def test_tws_rejects_hdfs_state_provider(spark, sf_dir):
    """Provider contract: transformWithStateInPandas supports ONLY the
    RocksDB state store — the HDFS-backed provider cannot create the
    column families TWS state needs, and the engine refuses with
    STATE_STORE_MULTIPLE_COLUMN_FAMILIES (measured, pinned here). The
    both-provider equality story therefore runs through the CLASSIC
    operator (test_rocksdb_state_store_provider_equality pins classic
    HDFS == classic RocksDB; test_transform_with_state_matches_classic
    pins TWS(RocksDB) == classic)."""
    import os
    import tempfile

    from portofolio_maximizer_spark.streaming.stream import (
        drain_session,
        idle_user_census_tws,
        run_to_memory,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    src = os.path.join(tempfile.mkdtemp(prefix="tws_hdfs_probe_"), "src")
    os.makedirs(src, exist_ok=True)
    ev.limit(50).coalesce(1).write.mode("overwrite").parquet(src)
    child = drain_session(spark)  # default = HDFS-backed provider
    stream = child.readStream.schema(ev.schema).parquet(src)
    with pytest.raises(Exception, match="MULTIPLE_COLUMN_FAMILIES"):
        run_to_memory(idle_user_census_tws(stream), "t_idle_hdfs_probe")


# ---------------------------------------------------------------------------
# T13 — ListState + MapState leaderboard (round 12)
# ---------------------------------------------------------------------------


def test_tws_topk_leaderboard_list_and_map_state(spark, sf_dir):
    """T13's contract: the ListState-maintained top-5 and the
    MapState-maintained per-type counters, folded at timer expiry, must
    equal the batch window-function truth exactly (landing order cannot
    matter — top-K under a total order is a semilattice merge), and
    DRAIN_PROGRESS must name the TWS operator + RocksDB provider."""
    from pyspark.sql import Window

    from portofolio_maximizer_spark.plans import QUERIES
    from portofolio_maximizer_spark.streaming.stream import _IDLE_TTL_MS

    out = QUERIES["streaming_topk_leaderboard_census"](spark, sf_dir)
    got = sorted(map(tuple, out.collect()))
    assert len(got) > 0
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("ct")
    )
    u = c.groupBy("user_id").agg(
        F.sum("ct").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.max("ct").cast("long").alias("mode_ct"),
    )
    md = (
        c.join(u, ["user_id"])
        .filter(F.col("ct") == F.col("mode_ct"))
        .groupBy("user_id")
        .agg(F.min("event_type").alias("mode_type"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("vm").desc(), F.col("event_id").asc()
    )
    t = (
        ev.select(
            "user_id",
            "event_id",
            (F.col("value") * 1e6).cast("long").alias("vm"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("topk_n"),
            F.sum("vm").cast("long").alias("topk_sum_micros"),
            F.max(F.when(F.col("rn") == 1, F.col("vm")))
            .cast("long")
            .alias("top1_value_micros"),
            F.max(F.when(F.col("rn") == 1, F.col("event_id")))
            .cast("long")
            .alias("top1_event_id"),
        )
    )
    lts = ev.groupBy("user_id").agg(
        F.floor(F.unix_millis(F.max("ts"))).cast("long").alias("last_ts_ms")
    )
    truth = (
        u.join(md, "user_id")
        .join(t, "user_id")
        .join(lts, "user_id")
        .select(
            "user_id",
            "n_events",
            "n_types",
            "mode_type",
            "mode_ct",
            "topk_n",
            "topk_sum_micros",
            "top1_value_micros",
            "top1_event_id",
            (F.col("last_ts_ms") + F.lit(_IDLE_TTL_MS))
            .cast("long")
            .alias("expired_at_ms"),
        )
    )
    assert got == sorted(map(tuple, truth.collect()))
    rec = ST.DRAIN_PROGRESS[("q_stream_topk", sf_dir)]
    assert rec["state_operator_names"] == ["transformWithStateInPandasExec"]
    assert rec["state_provider"] == "RocksDBStateStoreProvider"
    assert rec["rocksdb_metrics_seen"] is True


# ---------------------------------------------------------------------------
# T14 — full-outer stream-stream interval join (round 12)
# ---------------------------------------------------------------------------


def test_full_outer_census_books_close_and_both_populations(spark, sf_dir):
    """T14's books: every drained row is exactly one of matched /
    view-only / buy-only (n_rows = sum of the three per user), BOTH
    outer populations are live at the tested sf (so the symmetric
    emission path is actually exercised, not vacuously green), and the
    drained result equals the batch FULL JOIN census exactly."""
    from portofolio_maximizer_spark.plans import QUERIES

    out = QUERIES["streaming_full_outer_census"](spark, sf_dir)
    rows = out.collect()
    assert rows
    assert all(
        r["n_rows"] == r["n_matched"] + r["n_view_only"] + r["n_buy_only"]
        for r in rows
    )
    assert sum(r["n_view_only"] for r in rows) > 0
    assert sum(r["n_buy_only"] for r in rows) > 0
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vu"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"),
        F.col("event_id").alias("buy_id"),
        F.col("ts").alias("buy_ts"),
    )
    j = v.join(
        b,
        F.expr(
            "vu = bu AND buy_ts >= view_ts "
            "AND buy_ts <= view_ts + INTERVAL 2 HOURS"
        ),
        "fullOuter",
    )
    matched = F.col("buy_id").isNotNull() & F.col("view_ts").isNotNull()
    truth = j.groupBy(
        F.coalesce(F.col("vu"), F.col("bu")).alias("user_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(matched.cast("int")).cast("long").alias("n_matched"),
        F.sum(F.col("buy_id").isNull().cast("int"))
        .cast("long")
        .alias("n_view_only"),
        F.sum(F.col("view_ts").isNull().cast("int"))
        .cast("long")
        .alias("n_buy_only"),
        F.round(
            F.sum(F.coalesce(F.col("view_value"), F.lit(0.0))), 6
        ).alias("sum_view_value"),
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, truth.collect()))


# ---------------------------------------------------------------------------
# T15 — TWS initial-state warm start (round 12)
# ---------------------------------------------------------------------------


def test_tws_warmstart_seeds_state_and_books_close(spark, sf_dir):
    """T15's contract: the drained census equals the batch GROUP BY over
    ALL events even though the stream only ever saw post-cutover rows —
    the seeded state must contribute exactly the backfilled mass. Both
    contributions are live (n_backfill > 0 AND n_stream > 0 in
    aggregate), books close per key, and DRAIN_PROGRESS names the TWS
    operator + RocksDB provider."""
    from portofolio_maximizer_spark.plans import QUERIES

    out = QUERIES["streaming_warmstart_handoff_census"](spark, sf_dir)
    rows = out.collect()
    assert rows
    assert all(
        r["n_events"] == r["n_backfill"] + r["n_stream"] for r in rows
    )
    assert sum(r["n_backfill"] for r in rows) > 0
    assert sum(r["n_stream"] for r in rows) > 0
    ev = load_table(spark, sf_dir, "events")
    truth = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("value") * 1e6).cast("long"))
        .cast("long")
        .alias("sum_value_micros"),
    )
    got = {r["user_id"]: (r["n_events"], r["sum_value_micros"]) for r in rows}
    want = {
        r["user_id"]: (r["n_events"], r["sum_value_micros"])
        for r in truth.collect()
    }
    assert got == want
    rec = ST.DRAIN_PROGRESS[("q_stream_warmstart", sf_dir)]
    assert rec["state_operator_names"] == ["transformWithStateInPandasExec"]
    assert rec["state_provider"] == "RocksDBStateStoreProvider"
