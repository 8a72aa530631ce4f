"""Table catalog over the driver-generated parquet testdata.

Mirrors the reference's storage surface (parquet + relational store,
`/root/reference/etl/data_storage.py:122-148` multi-file scan and
`/root/reference/etl/database_manager.py` table registry) as plain
``spark.read.parquet`` scans: predicate pushdown, column pruning and
partition pruning come from Catalyst for free, where the reference loads
whole files into pandas and filters after the fact.

At 100 TB these tables would be directory-partitioned (e.g. lineitem by
``l_shipdate`` month, events by date) — the loader takes any directory and
Spark's partition discovery handles both layouts; nothing here assumes a
single file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.memo import session_frame_cache

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at every realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part"})


@session_frame_cache
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    Resolved once per (session, sf_dir, table, data fingerprint): later
    calls return the same frame, so the schema-inference job and the conf
    writes run only on the first call; a rewritten parquet or a new
    session reads again (``operators.memo.session_frame_cache``).

    ``events.ts`` has shipped under three different parquet encodings across
    testdata generations: TIMESTAMP(NANOS) (readable only as long under the
    ``nanosAsLong`` legacy conf), plain un-adjusted TIMESTAMP(MICROS) (which
    Spark ≥3.4 surfaces as TIMESTAMP_NTZ when ``inferTimestampNTZ`` is on),
    and UTC-adjusted micros (TIMESTAMP_LTZ). Normalize all three to
    TIMESTAMP_LTZ here, in one place, so every downstream operator can rely
    on epoch arithmetic (``unix_micros`` / ``cast("double")``) working. The
    session TZ is pinned to UTC (session.py) so NTZ→LTZ is instant-preserving.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Applies to EVERY table: the testdata writes un-adjusted timestamp[us]
    # for orders/lineitem/events alike, so a vanilla (driver-built) session
    # would read them all as TIMESTAMP_NTZ and epoch math (unix_millis on
    # o_orderdate cohorts, etc.) would throw. Setting the conf at read time
    # keeps the scans native-LTZ — no cast nodes, predicate pushdown intact.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":  # legacy nanos encoding: truncate ns → µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":  # timestamp_ntz (or future variants)
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        return df
    return spark.read.parquet(path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for ``spark.sql`` use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
