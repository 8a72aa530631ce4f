"""Structured Streaming surface (SURVEY.md §2.9, T1–T7).

The reference's real-time layer is a polling generator emitting quote
events and volatility alerts (`etl/real_time_extractor.py:115-350`); its
"state" is a per-ticker ring buffer in process memory. Here the same
semantics are Structured Streaming operators over an event stream:

- T1 polling ingest        → file/parquet streaming source (micro-batch)
- T2 vol-spike alerts      → ``applyInPandasWithState`` per key
- T3 rolling history state → bounded buffer inside the state handle
- T4/T5 dedupe guards      → ``withWatermark`` + ``dropDuplicates``
- T6 late data             → event-time watermark (allowed lateness)
- T7 windowed thresholds   → tumbling/sliding/session window aggregates

Every operator is also meaningful at 100 TB/day: state is keyed (scales
with key count, not event count), watermarks bound state size, and all
aggregations are incremental (partial aggregation per micro-batch).

Batch equivalence: each streaming operator has the same answer as the
batch query on the replayed data (tests assert this with
``trigger(availableNow=True)``) — the Structured Streaming guarantee the
reference's imperative loop cannot make.
"""

from __future__ import annotations

import contextlib
import itertools
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.memo import memoize_checkpoint
from ..sources.catalog import read_parquet

# NOTE: the events table's ts parquet encoding has changed across testdata
# generations (TIMESTAMP(NANOS) → plain TIMESTAMP(MICROS)). The stream
# therefore takes its schema from the file footer (one cheap batch read of
# metadata) instead of hard-coding one, and normalizes ts the same way
# sources/catalog.py does for the batch path.


def _stream_dir(sf_dir: str) -> str:
    """The parquet streaming source lists a DIRECTORY. When the events
    table is itself a directory of part files (every multi-file table at
    real scale — and Spark-written replicas), stream it directly; the
    single-file testdata layout (all tables in one read-only dir) gets a
    per-sf_dir symlink directory holding only events.parquet, because
    the source must not list the sibling tables."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        return src
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"spark_events_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: the events table replayed as a micro-batched stream.

    File-source streaming over the same parquet the batch path reads —
    the idiomatic replacement for the reference's poll loop
    (`etl/real_time_extractor.py:115-178`): the trigger interval plays
    ``update_frequency``, and a production deployment pointing this at a
    landing directory gets incremental tail ingest (S12) for free.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # File-source streams need an explicit schema; take it from the real
    # file footer so a regenerated testdata encoding can never silently
    # produce an empty stream (the watermark would simply never advance).
    # The footer is read on the driver: no inference job per stream start.
    schema = read_parquet(spark, os.path.join(sf_dir, "events.parquet")).schema
    raw = spark.readStream.schema(schema).parquet(_stream_dir(sf_dir))
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":  # legacy nanos encoding
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type != "timestamp":  # timestamp_ntz or future variants
        return raw.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return raw


def tumbling_value_rollup(stream: DataFrame, width: str = "1 hour") -> DataFrame:
    """T7: tumbling event-time window rollup with a 30-minute watermark.

    The watermark bounds state: windows older than max(event time) − 30 min
    are finalized and evicted, so state size is O(active windows), not
    O(stream length).
    """
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type",
            "n",
            "sum_value",
            "avg_value",
        )
    )


def sliding_value_stats(
    stream: DataFrame, width: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """T7: sliding windows (each event lands in width/slide windows) —
    the streaming analog of the reference's trailing-N vol windows."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", width, slide).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.stddev_samp("value"), 6).alias("vol"),
        )
        .select(
            F.col("win.start").alias("win_start"), "user_id", "n", "vol"
        )
    )


def session_rollup(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """§2.9 note: native ``session_window`` (gap-closed sessions) — the
    event-time generalization of the batch gap run-length (W9) /
    ``operators.windows.sessionize``."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedupe_within_watermark(stream: DataFrame) -> DataFrame:
    """T4/T5: stale/duplicate bar guard — drop re-deliveries of the same
    (user_id, event_id) within the watermark horizon; state for ids older
    than the watermark is evicted (reference keys by (ticker, bar_ts),
    `scripts/run_auto_trader.py:461-515`)."""
    return stream.withWatermark("ts", "30 minutes").dropDuplicates(
        ["user_id", "event_id"]
    )


# ---------------------------------------------------------------------------
# T2/T3 — stateful volatility-spike circuit breaker
# ---------------------------------------------------------------------------

ALERT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts_ms", LongType()),
        StructField("value", DoubleType()),
        StructField("vol_ratio", DoubleType()),
        StructField("n_history", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("history", StringType())])

_HISTORY_CAP = 64  # T3 bounded ring buffer (reference keeps last N quotes)
_BASELINE_MIN = 8
_SPIKE_RATIO = 2.0
_RECENT = 5


def _vol_spike_fn(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state,
) -> Iterator[pd.DataFrame]:
    """Per-key stateful scan: keep a bounded value history; emit an alert
    row whenever the stddev of the last ``_RECENT`` absolute changes
    exceeds ``_SPIKE_RATIO`` × the stddev of the full buffered history.

    Mirrors `etl/real_time_extractor.py:289-350`: ring-buffer history (T3)
    + current-vs-normal volatility ratio (T2). State is a JSON-encoded
    float list — tiny and schema-stable across micro-batches.
    """
    import json

    import numpy as np

    (user_id,) = key
    if state.exists:
        (hist_json,) = state.get
        history = json.loads(hist_json)
    else:
        history = []

    alerts = []
    # Concatenate ALL Arrow chunks for the key before sorting: a key whose
    # batch spans multiple record batches (> arrow.maxRecordsPerBatch)
    # receives them in arbitrary shuffle order, and a per-chunk sort would
    # build the ring buffer out of event-time order at scale.
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        for ts, event_id, value in zip(
            pdf["ts"], pdf["event_id"], pdf["value"], strict=True
        ):
            history.append(float(value))
            if len(history) > _HISTORY_CAP:
                history = history[-_HISTORY_CAP:]
            if len(history) >= _BASELINE_MIN + _RECENT:
                diffs = np.abs(np.diff(np.asarray(history)))
                base = diffs[:-_RECENT].std()
                recent = diffs[-_RECENT:].std()
                if base > 0 and recent / base > _SPIKE_RATIO:
                    alerts.append(
                        (
                            int(user_id),
                            int(pd.Timestamp(ts).value // 1_000_000),
                            float(value),
                            round(float(recent / base), 6),
                            len(history),
                        )
                    )
    state.update((json.dumps(history),))
    if alerts:
        yield pd.DataFrame(
            alerts, columns=["user_id", "ts_ms", "value", "vol_ratio", "n_history"]
        )


def vol_spike_alerts(stream: DataFrame) -> DataFrame:
    """T2 volatility-spike circuit breaker as a keyed stateful operator.

    ``applyInPandasWithState`` scales with the key count: each user's
    buffer lives in the state store, micro-batches arrive Arrow-batched,
    and a 1000-executor cluster shards keys across state stores with no
    code change."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _vol_spike_fn,
            outputStructType=ALERT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )


#: the RocksDB state-store provider bundled with Spark — no extra jars
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def drain_session(spark, partitions: int = 8, state_provider: str | None = None):
    """Child session (shared SparkContext, isolated SQLConf) sized for an
    availableNow drain: every stateful streaming operator bootstraps one
    state store per shuffle partition, so at test volumes 32 partitions
    of setup dominate the drain wall (the work is ~100k rows). A
    production deployment sizes the partition count to stream volume;
    the operators are partition-count agnostic and the drained RESULTS
    are partition-count invariant (aggregations/session merges don't
    depend on the shuffle layout). Isolated conf means concurrent family
    drains can't race each other's settings.

    ``state_provider="rocksdb"`` switches the child to Spark's bundled
    RocksDB state store (round-10 directive #3): the default
    HDFS-backed provider keeps every state row in EXECUTOR HEAP — the
    known scale ceiling for the 1M-row dedup/session states already
    measured in the decade tables — while RocksDB spills state to local
    disk with bounded memory, which is the provider a 100 TB deployment
    would run. Results are provider-invariant (the store is a KV layer
    under the same operators — equality is pinned in
    tests/test_streaming.py and by the dedup/session oracles);
    `DRAIN_PROGRESS` records which provider served each drain plus
    engine-side proof (rocksdb custom metrics in the progress events)."""
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", str(partitions))
    # newSession() drops the parent's runtime confs; keep the one Python
    # worker pool that ``load_table`` sets on a vanilla parent session.
    child.conf.set("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
    if state_provider == "rocksdb":
        child.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
        )
    elif state_provider is not None:
        child.conf.set(
            "spark.sql.streaming.stateStore.providerClass", state_provider
        )
    return child


#: per-drain StreamingQueryProgress evidence, keyed by (query name,
#: cache_key): input rows, micro-batch count, peak state rows, summed
#: trigger wall. Structured Streaming runs micro-batches under its own
#: job group, so job-group-scoped stage metrics (tools/scalecheck.py)
#: cannot see them — this registry is the honest attribution channel:
#: the SOURCE-side row/batch evidence straight from the engine's
#: progress events. Best-effort: a metrics failure never fails a drain.
DRAIN_PROGRESS: dict[tuple[str, str | None], dict] = {}

#: monotonic record stamp: a memo-invalidated re-drain that happens to
#: reproduce identical metrics (same rows/batches/state, repeated
#: trigger_ms) would otherwise compare EQUAL to the pre-query snapshot
#: in tools/scalecheck.py and go unattributed — the seq makes any
#: re-record compare unequal regardless of metric values
_DRAIN_SEQ = itertools.count()


def _record_drain_progress(
    q, name: str, cache_key: str | None, session=None
) -> None:
    import json as _json

    try:
        progress = [_json.loads(p.json) for p in q.recentProgress]
        # recentProgress is a ring buffer (numRecentProgressUpdates,
        # default 100): the drain paths raise it, but a capped read must
        # say so rather than undercount silently
        cap = 100
        if session is not None:
            try:
                cap = int(
                    session.conf.get(
                        "spark.sql.streaming.numRecentProgressUpdates"
                    )
                )
            except Exception:  # noqa: BLE001 — default stands
                pass
        state_rows = 0
        dropped_late = 0
        state_mem = 0
        rocksdb_mem = 0
        rocksdb_sst = 0
        for p in progress:
            ops = p.get("stateOperators", [])
            state_rows = max(
                state_rows,
                sum(op.get("numRowsTotal", 0) or 0 for op in ops),
            )
            dropped_late += sum(
                op.get("numRowsDroppedByWatermark", 0) or 0 for op in ops
            )
            # provider-memory evidence (round-11 directive #5): the
            # HDFS-backed provider's memoryUsedBytes is state resident
            # in EXECUTOR HEAP (grows with state rows); RocksDB reports
            # bounded block-cache/memtable memory plus SST bytes pushed
            # to local DISK — the decade contrast tools/streamdecade.py
            # measures
            state_mem = max(
                state_mem,
                sum(op.get("memoryUsedBytes", 0) or 0 for op in ops),
            )
            rocksdb_mem = max(
                rocksdb_mem,
                sum(
                    (op.get("customMetrics") or {}).get(
                        "rocksdbTotalMemoryUsage", 0
                    )
                    or 0
                    for op in ops
                ),
            )
            rocksdb_sst = max(
                rocksdb_sst,
                sum(
                    (op.get("customMetrics") or {}).get(
                        "rocksdbSstFileSize", 0
                    )
                    or 0
                    for op in ops
                ),
            )
        # which state-store provider served this drain: the session conf
        # names it, and the progress events carry engine-side PROOF —
        # RocksDB's stateOperators emit rocksdb* custom metrics the
        # HDFS-backed provider never does (round-10 directive #3's
        # evidence channel)
        provider = "HDFSBackedStateStoreProvider"
        if session is not None:
            try:
                provider = session.conf.get(
                    "spark.sql.streaming.stateStore.providerClass"
                ).rsplit(".", 1)[-1]
            except Exception:  # noqa: BLE001 — unset = default provider
                pass
        rocksdb_seen = any(
            "rocksdb" in k.lower()
            for p in progress
            for op in p.get("stateOperators", [])
            for k in (op.get("customMetrics") or {})
        )
        # which stateful API served the drain — the engine names its
        # operator in every progress event (e.g.
        # transformWithStateInPandasExec vs applyInPandasWithStateExec),
        # so the evidence channel proves WHICH state API ran, not just
        # that state ran (round-11 directive #2)
        op_names = sorted(
            {
                op.get("operatorName", "")
                for p in progress
                for op in p.get("stateOperators", [])
                if op.get("operatorName")
            }
        )
        rec = {
            "seq": next(_DRAIN_SEQ),
            "n_batches": len(progress),
            "input_rows": sum(p.get("numInputRows", 0) or 0 for p in progress),
            "state_rows_peak": state_rows,
            "trigger_ms": sum(
                (p.get("durationMs", {}) or {}).get("triggerExecution", 0) or 0
                for p in progress
            ),
            "progress_capped": len(progress) >= cap,
            "state_provider": provider,
            "rocksdb_metrics_seen": rocksdb_seen,
            "state_operator_names": op_names,
            "state_mem_peak_bytes": state_mem,
            "rocksdb_mem_peak_bytes": rocksdb_mem,
            "rocksdb_sst_peak_bytes": rocksdb_sst,
            # engine-side late-data accounting: rows the stateful
            # operators REFUSED because their event time fell behind the
            # watermark — the second half of the watermark contract
            # (state eviction is the first), reconciled against the
            # batch-computed lateness census in T11
            "rows_dropped_late": dropped_late,
        }
        # observable metrics (df.observe + CollectMetrics): per-batch
        # engine-computed aggregates of the ACTUAL rows that flowed —
        # summed across batches per numeric key. A second, independent
        # row-accounting channel beside the source-side numInputRows.
        observed: dict[str, float] = {}
        for p in progress:
            for mname, row in (p.get("observedMetrics") or {}).items():
                for k, v in (row or {}).items():
                    if isinstance(v, (int, float)):
                        observed[f"{mname}.{k}"] = (
                            observed.get(f"{mname}.{k}", 0) + v
                        )
        if observed:
            rec["observed"] = {
                k: round(v, 6) if isinstance(v, float) else v
                for k, v in observed.items()
            }
        DRAIN_PROGRESS[(name, cache_key)] = rec
    except Exception:  # noqa: BLE001 — evidence only, never fail the drain
        pass


@contextlib.contextmanager
def _progress_history(sess, n: str = "10000"):
    """Temporarily raise the recentProgress ring-buffer cap on ``sess``
    and restore the prior value on exit — the drain paths need the full
    progress history for the evidence summary, but callers may pass a
    SHARED session where a lasting 10k-entry cap would retain progress
    JSON for every later streaming query."""
    key = "spark.sql.streaming.numRecentProgressUpdates"
    try:
        prior = sess.conf.get(key)
    except Exception:  # noqa: BLE001 — unset with no default
        prior = None
    sess.conf.set(key, n)
    try:
        yield sess
    finally:
        try:
            if prior is None:
                sess.conf.unset(key)
            else:
                sess.conf.set(key, prior)
        except Exception:  # noqa: BLE001 — restore is best-effort
            pass


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    cache_key: str | None = None,
) -> DataFrame:
    """Drain a stream with ``availableNow`` into an in-memory table and
    return it as a batch DataFrame — the test/driver harness for every
    operator above (processes all available input, then stops, exactly
    once).

    With ``cache_key`` (callers pass the input directory) the drained
    result is memoized per (application, name, cache_key): the drain is
    deterministic for a fixed input, so repeat consumers read the pinned
    batch frame (``operators.memo.memoize_checkpoint``, probed for block
    loss) instead of re-running the micro-batch. Watermark/state
    semantics are untouched — the first drain is a real streaming job.
    Tests that deliberately re-drain (determinism pins) omit the key."""

    def _drain() -> DataFrame:
        sess = stream_df.sparkSession
        # keep the full progress history for the evidence summary — an
        # availableNow drain at a large SF can exceed the 100-entry
        # recentProgress ring buffer. Restored after the drain: the
        # caller may pass a SHARED session, and leaving the conf set
        # would retain up to 10k progress JSON objects per streaming
        # query session-wide.
        with _progress_history(sess) as cap_sess:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            _record_drain_progress(q, name, cache_key, cap_sess)
        return sess.table(name)

    if cache_key is None:
        return _drain()
    return memoize_checkpoint(stream_df.sparkSession, name, cache_key, _drain)


def enriched_stream(stream: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins against the
    static dimension (broadcast per batch, no state) — the streaming
    analog of the signal↔trade linkage joins (J10) and the standard
    shape for attaching reference data to a 100 TB/day event stream."""
    return stream.join(F.broadcast(dim), "event_type", "left")


def run_upsert_sink(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    partition_col: str,
    checkpoint_dir: str,
    cache_key: str | None = None,
) -> None:
    """T1+S7: stream into a partitioned parquet table via foreachBatch
    keyed upsert — the canonical streaming-ingest sink. Each micro-batch
    merges through ``upsert_parquet_partitioned``: newest-wins per key,
    only partitions the batch touches get rewritten, and the checkpoint
    makes the whole sink restartable (reference
    `etl/real_time_extractor.py` polls into the SQLite upsert
    `etl/database_manager.py:1603-1687`; this is that loop as a
    restartable Structured Streaming job)."""
    from ..sources.io import upsert_parquet_partitioned

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_parquet_partitioned(
            batch_df.sparkSession, path, batch_df, keys=keys,
            partition_col=partition_col,
        )

    sess = stream_df.sparkSession
    with _progress_history(sess) as cap_sess:
        q = (
            stream_df.writeStream.foreachBatch(merge)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # cache_key carries the caller's attribution key (sf_dir) — the
        # sink path is a temp dir no evidence consumer could match on
        _record_drain_progress(
            q,
            f"upsert_sink:{os.path.basename(path)}",
            cache_key or path,
            cap_sess,
        )


def view_purchase_interval_join(stream: DataFrame, horizon: str = "6 hours") -> DataFrame:
    """T-coverage: stream-STREAM interval join — each purchase joins the
    same user's view events from the preceding ``horizon``. Both sides
    carry watermarks, so join state is bounded: a buffered view can be
    dropped once the purchase-side watermark passes its interval upper
    bound (attribution-window semantics; the reference joins signals to
    trades post-hoc in SQLite, J10 — this is that join with both sides
    unbounded streams)."""
    views = (
        stream.filter(F.col("event_type") == "view")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
    )
    buys = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
            F.col("value").alias("buy_value"),
        )
    )
    return buys.join(
        views,
        F.expr(
            f"b_user = v_user AND view_ts <= buy_ts "
            f"AND view_ts >= buy_ts - INTERVAL {horizon}"
        ),
        "inner",
    )


def observed_ingest(stream: DataFrame) -> DataFrame:
    """T9: observable metrics — ``df.observe`` plants a CollectMetrics
    node whose aggregates the ENGINE computes over the exact rows that
    flow through each micro-batch (surfaced per batch in
    ``StreamingQueryProgress.observedMetrics`` and summed into
    ``DRAIN_PROGRESS[...]["observed"]``). The accounting-side complement
    of the source-side ``numInputRows``: rows counted by the PLAN
    itself, which is how a production ingest job self-audits (row
    counts, value mass) with zero extra passes. Only ADDITIVE metrics
    belong here — the evidence channel sums them across batches."""
    return stream.observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.sum("value").alias("value_mass"),
    )


def view_purchase_outer_join(stream: DataFrame, horizon: str = "2 hours") -> DataFrame:
    """T-coverage: stream-STREAM LEFT OUTER interval join — every view
    joins the same user's purchases in the FOLLOWING ``horizon``, and a
    view that never converts EMITS ANYWAY (NULL purchase columns) once
    the watermark passes its interval upper bound and its join state is
    evicted. This is the outer-emission state-machine the inner variant
    (`view_purchase_interval_join`) never exercises: an unmatched left
    row is held in the state store exactly until
    watermark > view_ts + horizon, then emitted-with-NULLs and dropped —
    bounded state AND complete output, the streaming form of the batch
    left join + attribution-gap census (J1/J2). At 100 TB/day this is
    how "sessions that never converted" leave the stream as first-class
    rows instead of requiring a second batch pass."""
    views = (
        stream.filter(F.col("event_type") == "view")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
    )
    buys = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
    )
    return views.join(
        buys,
        F.expr(
            f"v_user = b_user AND buy_ts >= view_ts "
            f"AND buy_ts <= view_ts + INTERVAL {horizon}"
        ),
        "leftOuter",
    )


from pyspark.sql.streaming.stateful_processor import StatefulProcessor


class _VolSpikeProcessor(StatefulProcessor):
    """T2/T3 on the transformWithState API (Spark 4's arbitrary-state
    successor to ``applyInPandasWithState``): identical ring-buffer +
    spike-ratio semantics to ``_vol_spike_fn``, with the buffer in a
    typed ``ValueState`` cell instead of a positional state tuple.
    Batch-equivalence with the classic operator is pinned in tests."""

    def init(self, handle) -> None:
        self._hist = handle.getValueState("history", "history string")

    def handleInputRows(self, key, rows, timerValues):
        import json

        import numpy as np
        import pandas as pd

        (user_id,) = key
        got = self._hist.get()  # None when absent (probed; saves an exists() round-trip)
        history = json.loads(got[0]) if got else []
        alerts = []
        # same chunk-order guard as _vol_spike_fn: concat all chunks,
        # sort once — per-chunk sorting breaks event-time order when a
        # key spans multiple Arrow record batches
        chunks = [pdf for pdf in rows if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            for ts, value in zip(pdf["ts"], pdf["value"], strict=True):
                history.append(float(value))
                if len(history) > _HISTORY_CAP:
                    history = history[-_HISTORY_CAP:]
                if len(history) >= _BASELINE_MIN + _RECENT:
                    diffs = np.abs(np.diff(np.asarray(history)))
                    base = diffs[:-_RECENT].std()
                    recent = diffs[-_RECENT:].std()
                    if base > 0 and recent / base > _SPIKE_RATIO:
                        alerts.append(
                            (
                                int(user_id),
                                int(pd.Timestamp(ts).value // 1_000_000),
                                float(value),
                                round(float(recent / base), 6),
                                len(history),
                            )
                        )
        self._hist.update((json.dumps(history),))
        if alerts:
            yield pd.DataFrame(
                alerts,
                columns=["user_id", "ts_ms", "value", "vol_ratio", "n_history"],
            )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def close(self) -> None:
        pass


def vol_spike_alerts_tws(stream: DataFrame) -> DataFrame:
    """T2 circuit breaker on ``transformWithStateInPandas``. Requires the
    RocksDB state store (set by the caller/session) and a protobuf
    runtime for Spark's TWS wire protocol — served since round 12 by the
    repo's stdlib wire shim (``google/``), so the equivalence test
    actually RUNS: TWS output == classic ``applyInPandasWithState``
    output on the same drained input. Same sharding story as the classic
    operator — keys partition across state stores."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_VolSpikeProcessor(),
            outputStructType=ALERT_SCHEMA,
            outputMode="append",
            timeMode="None",
        )
    )


# ---------------------------------------------------------------------------
# T12 — timer-driven idle-key expiry census (transformWithStateInPandas)
# ---------------------------------------------------------------------------

IDLE_CENSUS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value_micros", LongType()),
        StructField("last_ts_ms", LongType()),
        StructField("expired_at_ms", LongType()),
    ]
)

#: idle TTL for the expiry census — chosen LARGER than the events
#: table's full 30-day span (+ watermark delay), so under the staged
#: two-file landing no key can expire before the sentinel batch: every
#: key emits exactly ONE census row carrying its complete totals, which
#: is what makes the operator oracle-equatable to a plain GROUP BY
_IDLE_TTL_MS = 45 * 24 * 3600 * 1000


class _IdleUserCensusProcessor(StatefulProcessor):
    """T12: per-key running totals in a typed ``ValueState`` plus an
    EVENT-TIME TIMER per key at ``last_seen + TTL`` — the semantics the
    old ``applyInPandasWithState`` API cannot express (its timeouts fire
    only when the key's group is scheduled; a TWS timer fires from the
    watermark alone, input or not). The timer DOES the work here: output
    rows exist ONLY via ``handleExpiredTimer`` — a key's census row is
    emitted exactly once, when the watermark passes its expiry, with the
    state cleared on the way out (the idle-ticker retirement shape of
    the reference's real-time monitor, etl/real_time_extractor.py's
    stale-ticker sweep, as an engine-managed timer instead of a poll).

    Re-registration discipline: each batch that advances a key's
    ``last_ts`` DELETES the previously registered timer and registers
    the new expiry — so the delete-timer protocol path is exercised
    whenever a key spans multiple micro-batches.

    Exact arithmetic: values cross into state as TRUNCATED micro-units
    (``int(v * 1e6)``, toward zero) and timestamps as epoch ms, so the
    census is integer-exact and the DuckDB oracle replays it with
    ``TRUNC(value * 1e6)`` / ``EPOCH_US // 1000`` — no float-sum order
    anywhere."""

    def init(self, handle) -> None:
        self._handle = handle
        self._agg = handle.getValueState(
            "agg", "n_events long, sum_micros long, last_ts_ms long"
        )

    def handleInputRows(self, key, rows, timerValues):
        got = self._agg.get()  # None when absent (probed; saves an exists() round-trip)
        n, sv, lt = got if got else (0, 0, -1)
        prev_lt = lt
        for pdf in rows:
            if not len(pdf):
                continue
            n += int(len(pdf))
            # truncation toward zero on the SAME double both engines
            # compute (v * 1e6 is one IEEE multiply) — exact cross-engine
            # vectorized: np.trunc(v * 1e6) is the same one-IEEE-multiply
            # + truncation-toward-zero per element as int(float(v) * 1e6)
            sv += int(
                np.trunc(
                    pdf["value"].to_numpy(dtype=np.float64) * 1_000_000.0
                ).astype(np.int64).sum()
            )
            lt = max(lt, int(pd.Timestamp(pdf["ts"].max()).value // 1_000_000))
        if lt > prev_lt:
            if prev_lt >= 0:
                self._handle.deleteTimer(prev_lt + _IDLE_TTL_MS)
            self._handle.registerTimer(lt + _IDLE_TTL_MS)
        self._agg.update((n, sv, lt))
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        got = self._agg.get()  # None when absent (probed; saves an exists() round-trip)
        if got is None:
            return iter(())
        n, sv, lt = got
        self._agg.clear()
        return iter(
            [
                pd.DataFrame(
                    [
                        [
                            int(key[0]),
                            int(n),
                            int(sv),
                            int(lt),
                            int(expiredTimerInfo.getExpiryTimeInMs()),
                        ]
                    ],
                    columns=[
                        "user_id",
                        "n_events",
                        "sum_value_micros",
                        "last_ts_ms",
                        "expired_at_ms",
                    ],
                )
            ]
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def close(self) -> None:
        pass


def idle_user_census_tws(stream: DataFrame) -> DataFrame:
    """T12 idle-key expiry census on ``transformWithStateInPandas`` in
    EVENT-TIME mode. Requires the RocksDB state-store provider (the TWS
    operator's JVM side supports no other — set by the caller's drain
    session) and the repo's stdlib protobuf wire shim (``google/``) for
    the Python↔JVM state protocol. Keys shard across state stores like
    every other stateful operator; at 100 TB the state is one (long,
    long, long) row + one timer per ACTIVE key, and expired keys leave
    the store entirely."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_IdleUserCensusProcessor(),
            outputStructType=IDLE_CENSUS_SCHEMA,
            outputMode="append",
            timeMode="EventTime",
        )
    )


# ---------------------------------------------------------------------------
# T13 — bounded top-K leaderboard + per-type counters on ListState/MapState
# (transformWithStateInPandas; completes the TWS state-primitive surface:
# T2-on-TWS = ValueState, T12 = ValueState + event-time timers,
# T13 = ListState + MapState + timers in one processor)
# ---------------------------------------------------------------------------

LEADERBOARD_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_types", LongType()),
        StructField("mode_type", StringType()),
        StructField("mode_ct", LongType()),
        StructField("topk_n", LongType()),
        StructField("topk_sum_micros", LongType()),
        StructField("top1_value_micros", LongType()),
        StructField("top1_event_id", LongType()),
        StructField("expired_at_ms", LongType()),
    ]
)

#: leaderboard depth — small by design: the WHOLE point of the ListState
#: top-K is that per-key state stays K entries no matter how many events
#: stream through the key
_TOPK_K = 5


class _TopKLeaderboardProcessor(StatefulProcessor):
    """T13: per-key bounded TOP-K leaderboard in a typed ``ListState``
    plus per-event-type counters in a typed ``MapState`` — the two TWS
    state primitives T2/T12 don't touch, in one processor with the same
    timer-driven emission discipline as T12 (output only via
    ``handleExpiredTimer``; TTL past the staged span ⇒ every key emits
    exactly once with complete totals ⇒ a plain-SQL oracle).

    The ListState holds the key's current top-K ``(value_micros,
    event_id)`` entries under the total order (value DESC, event_id
    ASC). Because top-K under a total order is a semilattice merge
    (merge, sort, truncate), the maintained set is landing-order
    INDEPENDENT — any batch interleaving lands the same K rows, which
    is what makes the census exactly SQL-replayable (ROW_NUMBER ≤ K).
    State stays K entries per key no matter how many events stream
    through — the bounded-replay-buffer discipline of T3, but in the
    engine-managed list cell instead of a JSON blob in a value cell.

    The MapState keys on ``event_type`` and counts occurrences; each
    batch read-modify-writes only the types it saw (``getValue`` +
    ``updateValue`` — point lookups, not a full-map rewrite), and the
    expiry path walks ``iterator()`` to fold the map into the census
    row (total events, distinct types, and the modal type with
    lexicographic-min tie-break). Values cross as truncated micro-units
    and epoch-ms, identical to T12's integer-exact convention."""

    def init(self, handle) -> None:
        self._handle = handle
        self._topk = handle.getListState(
            "topk", "value_micros long, event_id long"
        )
        self._counts = handle.getMapState(
            "counts", "event_type string", "ct long"
        )
        self._last = handle.getValueState("last", "last_ts_ms long")

    def handleInputRows(self, key, rows, timerValues):
        entries = [
            # empty iterator when absent (probed) — no exists() round-trip
            (int(v), int(e)) for v, e in self._topk.get()
        ]
        got = self._last.get()  # None when absent (probed; saves an exists() round-trip)
        prev_lt = got[0] if got else -1
        lt = prev_lt
        for pdf in rows:
            if not len(pdf):
                continue
            # same one-IEEE-multiply truncation as T12: exact cross-engine
            entries.extend(
                (int(float(v) * 1_000_000.0), int(e))
                for v, e in zip(pdf["value"], pdf["event_id"], strict=True)
            )
            lt = max(
                lt, int(pd.Timestamp(pdf["ts"].max()).value // 1_000_000)
            )
            for etype, ct in pdf["event_type"].value_counts().items():
                # None when absent (probed) — still a point lookup, one
                # round-trip instead of containsKey + getValue
                prev = self._counts.getValue((etype,))
                self._counts.updateValue(
                    (etype,), (int(ct) + (int(prev[0]) if prev else 0),)
                )
        # merge-sort-truncate: the semilattice step that keeps state at K
        entries.sort(key=lambda t: (-t[0], t[1]))
        self._topk.put(entries[:_TOPK_K])
        if lt > prev_lt:
            if prev_lt >= 0:
                self._handle.deleteTimer(prev_lt + _IDLE_TTL_MS)
            self._handle.registerTimer(lt + _IDLE_TTL_MS)
            self._last.update((lt,))
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        entries = [
            # empty iterator when absent (probed) — no exists() round-trip
            (int(v), int(e)) for v, e in self._topk.get()
        ]
        counts = {
            k[0]: int(v[0]) for k, v in self._counts.iterator()
        }
        self._topk.clear()
        self._counts.clear()
        self._last.clear()
        if not entries and not counts:
            return iter(())
        mode_ct = max(counts.values())
        mode_type = min(t for t, c in counts.items() if c == mode_ct)
        return iter(
            [
                pd.DataFrame(
                    [
                        [
                            int(key[0]),
                            int(sum(counts.values())),
                            int(len(counts)),
                            mode_type,
                            int(mode_ct),
                            int(len(entries)),
                            int(sum(v for v, _ in entries)),
                            int(entries[0][0]),
                            int(entries[0][1]),
                            int(expiredTimerInfo.getExpiryTimeInMs()),
                        ]
                    ],
                    columns=[
                        "user_id",
                        "n_events",
                        "n_types",
                        "mode_type",
                        "mode_ct",
                        "topk_n",
                        "topk_sum_micros",
                        "top1_value_micros",
                        "top1_event_id",
                        "expired_at_ms",
                    ],
                )
            ]
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def close(self) -> None:
        pass


def topk_leaderboard_tws(stream: DataFrame) -> DataFrame:
    """T13 bounded top-K leaderboard + per-type counters on
    ``transformWithStateInPandas`` in EVENT-TIME mode. RocksDB provider
    only (TWS contract); per-key state is K list entries + one map row
    per DISTINCT type + one timer — bounded regardless of events
    per key, the property that makes a per-key leaderboard safe at
    100 TB key cardinalities."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_TopKLeaderboardProcessor(),
            outputStructType=LEADERBOARD_SCHEMA,
            outputMode="append",
            timeMode="EventTime",
        )
    )


def view_purchase_full_outer_join(
    stream: DataFrame, horizon: str = "2 hours"
) -> DataFrame:
    """T14: stream-stream FULL OUTER interval join — the symmetric
    completion of T8's left-outer. Both unmatched populations leave the
    stream as first-class rows: a view that never converts emits with
    NULL purchase columns once the watermark passes ``view_ts +
    horizon`` (T8's state machine), AND a purchase with no attributable
    view in its trailing window emits with NULL view columns once the
    watermark passes ``buy_ts`` — the orphan-conversion census a
    left-outer can only get from a second pass with the sides swapped.
    State on both sides stays watermark-bounded: a view is held at most
    ``horizon`` past its timestamp, a purchase only until the watermark
    reaches it (its candidate views are all earlier, so eviction is
    immediate on watermark passage)."""
    views = (
        stream.filter(F.col("event_type") == "view")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
    )
    buys = (
        stream.filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("buy_id"),
            F.col("ts").alias("buy_ts"),
        )
    )
    return views.join(
        buys,
        F.expr(
            f"v_user = b_user AND buy_ts >= view_ts "
            f"AND buy_ts <= view_ts + INTERVAL {horizon}"
        ),
        "fullOuter",
    )


# ---------------------------------------------------------------------------
# T15 — batch→streaming warm-start handoff via TWS initial state
# ---------------------------------------------------------------------------

WARMSTART_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_backfill", LongType()),
        StructField("n_stream", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value_micros", LongType()),
        StructField("last_ts_ms", LongType()),
        StructField("expired_at_ms", LongType()),
    ]
)


class _WarmStartCensusProcessor(StatefulProcessor):
    """T15: per-key state BOOTSTRAPPED from a batch frame via
    ``handleInitialState`` — the TWS entry point T12/T13 never touch,
    and the production batch→streaming handoff: a backfill job computes
    per-key aggregates once, the streaming job seeds its state from
    them and continues incrementally, and nothing reprocesses the
    backfilled range. The processor keeps (n_backfill, n_stream,
    sum_micros, last_ts_ms) in one ValueState: ``handleInitialState``
    seeds it from the batch row AND registers the key's expiry timer
    (so a key with backfill but NO streamed increments still emits —
    the handoff must not strand cold keys), ``handleInputRows`` folds
    increments with T12's delete-then-re-register timer discipline, and
    ``handleExpiredTimer`` emits the complete census exactly once.
    Output equality with the plain GROUP BY over ALL events (backfill +
    increments) is what certifies the handoff: the stream never saw the
    backfilled rows, so equality forces the seeded state to have
    contributed exactly the missing mass."""

    def init(self, handle) -> None:
        self._handle = handle
        self._agg = handle.getValueState(
            "agg", "n0 long, n1 long, sv long, lt long"
        )

    def handleInitialState(self, key, initialState, timerValues) -> None:
        n0 = int(initialState["n0"].iloc[0])
        sv = int(initialState["sv0"].iloc[0])
        lt = int(initialState["lt0"].iloc[0])
        self._agg.update((n0, 0, sv, lt))
        # seed the expiry timer too: a key with no streamed increments
        # must still emit when the watermark passes its backfill TTL
        self._handle.registerTimer(lt + _IDLE_TTL_MS)

    def handleInputRows(self, key, rows, timerValues):
        got = self._agg.get()  # None when absent (probed; saves an exists() round-trip)
        n0, n1, sv, lt = got if got else (0, 0, 0, -1)
        prev_lt = lt
        for pdf in rows:
            if not len(pdf):
                continue
            n1 += int(len(pdf))
            sv += int(
                np.trunc(
                    pdf["value"].to_numpy(dtype=np.float64) * 1_000_000.0
                ).astype(np.int64).sum()
            )
            lt = max(
                lt, int(pd.Timestamp(pdf["ts"].max()).value // 1_000_000)
            )
        if lt > prev_lt:
            if prev_lt >= 0:
                self._handle.deleteTimer(prev_lt + _IDLE_TTL_MS)
            self._handle.registerTimer(lt + _IDLE_TTL_MS)
        self._agg.update((n0, n1, sv, lt))
        return iter(())

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        got = self._agg.get()  # None when absent (probed; saves an exists() round-trip)
        if got is None:
            return iter(())
        n0, n1, sv, lt = got
        self._agg.clear()
        return iter(
            [
                pd.DataFrame(
                    [
                        [
                            int(key[0]),
                            int(n0),
                            int(n1),
                            int(n0 + n1),
                            int(sv),
                            int(lt),
                            int(expiredTimerInfo.getExpiryTimeInMs()),
                        ]
                    ],
                    columns=[
                        "user_id",
                        "n_backfill",
                        "n_stream",
                        "n_events",
                        "sum_value_micros",
                        "last_ts_ms",
                        "expired_at_ms",
                    ],
                )
            ]
        )

    def close(self) -> None:
        pass


def warmstart_census_tws(stream: DataFrame, initial) -> DataFrame:
    """T15 warm-start census: ``initial`` is the GROUPED backfill frame
    (`.groupBy(key)` of a batch aggregate with columns n0/sv0/lt0).
    RocksDB provider only (TWS contract); the initial-state pass runs
    once in the first micro-batch, per key, before any input rows."""
    return (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_WarmStartCensusProcessor(),
            outputStructType=WARMSTART_SCHEMA,
            outputMode="append",
            timeMode="EventTime",
            initialState=initial,
        )
    )
