"""Grouped numpy kernels on the Arrow fast path.

``groupBy().applyInPandas`` pays a full Arrow→pandas DataFrame
conversion (block manager + index) per group on both directions; for
model-fit kernels that only read numpy arrays and emit a few rows, that
conversion is most of the wall time (measured ~3× the pure-Arrow
identity on the sf0.1 series). ``grouped_numpy`` runs the same kernels
on ``applyInArrow``: columns are extracted zero-copy(ish) to numpy and
results are built directly as an Arrow table in the declared schema's
types — no pandas on either side.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

#: default fan-out multiplier over the session default parallelism for
#: the grouped-fit shuffles (optimization round 13, guide §2.5/§2.6).
#: Callers whose per-key cost is HEAVY-TAILED pass ``fanout=4``: the
#: rolling-CV refit measured 58 keys on the largest of 32 hash
#: partitions vs 46.9 mean — a 9.2 s stage wall that 4x finer tasks cut
#: to 2.7 s serially and 7.4 -> 2.8 s inside the full bench, because
#: the scheduler can rebalance 4 waves of small tasks but not one wave
#: of big ones. The DEFAULT stays 1x: a blanket 4x was measured SLOWER
#: for the uniform-cost fit family under the bench's concurrent pools
#: (arima_components 2.8 -> 8.1 s, garch_grid_params 4.8 -> 7.6 s in
#: the full cold bench) — 4x the applyInArrow tasks means 4x the
#: per-task Arrow/worker handoff, which concurrent jobs amplify.
#: Most of that handoff was PySpark's per-task ``setup_spark_files``
#: re-reading the index of every archive on the worker's path: 105-121 ms
#: a task, against ~1 ms of kernel per group at sf0.001. Since
#: ``worker_daemon`` drops those archives it reads 0.1-0.2 ms median
#: (4-vCPU box), so the 4x result above predates it; re-measuring the
#: fan-out is the next step of ROADMAP item 2.
#: Per-key results are partitioning-independent either way
#: (grouped_numpy: one kernel call per key; partitioned_numpy: per-key
#: rows through elementwise math, pinned by the GARCH partition tests).
FIT_FANOUT = 1


def grouped_numpy(
    df: DataFrame,
    keys: list[str],
    schema: StructType,
    kernel: Callable[[dict[str, np.ndarray]], list[tuple]],
    fanout: int = FIT_FANOUT,
) -> DataFrame:
    """Run ``kernel`` once per group on numpy columns; rows it returns
    become the output table. The kernel sees every input column as a
    numpy array (strings as object arrays) and must emit tuples in
    ``schema`` field order.

    The input is explicitly hash-repartitioned on ``keys`` to
    ``FIT_FANOUT x`` the session default parallelism first: model-fit
    stages are CPU-bound, not
    bytes-bound, and AQE's byte-based partition coalescing would squeeze
    the (tiny-bytes, heavy-CPU) grouped shuffle onto a couple of tasks —
    measured 2 tasks on local[32] for the 450-candidate AR grid, idling
    30 cores. The explicit repartition satisfies the hash-clustered
    distribution ``applyInArrow`` needs, so Catalyst inserts no second
    exchange; on a real cluster the same pinning spreads fits across
    executors regardless of how few bytes the series occupy.

    That protection only holds when the input is NOT already
    hash-partitioned on ``keys`` into the same partition count. Over
    ``_series`` (its window's exchange is ``hashpartitioning(user_id,
    spark.sql.shuffle.partitions)``, and ``get_spark`` sets that to the
    core count, i.e. ``FIT_FANOUT x`` the default parallelism),
    ``EnsureRequirements`` drops the repartition as redundant. The fit
    then reads the window's exchange through AQE's coalesced shuffle
    read, and at sf0.001 on ``get_spark(cpus=4)`` the arima and cusum
    fits each ran in 1 task."""
    arrow_schema = to_arrow_schema(schema)
    names = [f.name for f in schema.fields]
    df = df.repartition(
        fanout * df.sparkSession.sparkContext.defaultParallelism, *keys
    )

    def fn(t: pa.Table) -> pa.Table:
        cols = {
            c: t.column(c).to_numpy(zero_copy_only=False) for c in t.column_names
        }
        rows = kernel(cols)
        if rows:
            columns = list(zip(*rows))
        else:
            columns = [[] for _ in names]
        arrays = [
            pa.array(list(vals), type=arrow_schema.field(i).type)
            for i, vals in enumerate(columns)
        ]
        return pa.Table.from_arrays(arrays, schema=arrow_schema)

    return df.groupBy(*keys).applyInArrow(fn, schema)


def partitioned_numpy(
    df: DataFrame,
    keys: list[str],
    schema: StructType,
    kernel: Callable[[dict[str, np.ndarray]], list[tuple]],
) -> DataFrame:
    """Like ``grouped_numpy`` but ONE kernel call per hash-clustered
    PARTITION (all of a key's rows land in the same call; a call sees
    many keys). For kernels that vectorize across keys — e.g. a grid-fit
    whose sequential-in-time likelihood loop can batch every key in the
    partition into one wide numpy axis, the Python loop then runs once
    per partition instead of once per key. On a 1000-executor cluster the
    shape is identical: partitions spread across executors, each kernel
    call burns one core on a (keys_in_partition × candidates) matrix."""
    arrow_schema = to_arrow_schema(schema)
    df = df.repartition(
        FIT_FANOUT * df.sparkSession.sparkContext.defaultParallelism, *keys
    )

    def fn(batches):
        tabs = list(batches)
        if not tabs:
            return
        t = pa.Table.from_batches(tabs)
        if t.num_rows == 0:
            return
        cols = {
            c: t.column(c).to_numpy(zero_copy_only=False) for c in t.column_names
        }
        rows = kernel(cols)
        if not rows:
            return
        columns = list(zip(*rows))
        arrays = [
            pa.array(list(vals), type=arrow_schema.field(i).type)
            for i, vals in enumerate(columns)
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return df.mapInArrow(fn, schema)
