"""Table catalog over the driver-generated parquet testdata.

Mirrors the reference's storage surface (parquet + relational store,
`/root/reference/etl/data_storage.py:122-148` multi-file scan and
`/root/reference/etl/database_manager.py` table registry) as plain
``spark.read.parquet`` scans: predicate pushdown, column pruning and
partition pruning come from Catalyst for free, where the reference loads
whole files into pandas and filters after the fact.

Schemas come from the parquet footer, not from a read: ``read_parquet``
converts the footer on the driver with Spark's own converter under the
session's SQL conf, so resolving a table launches no Spark job
(``spark.read.parquet`` without a schema runs one inference job per
table, and every new session pays it again).

At 100 TB these tables would be directory-partitioned (e.g. lineitem by
``l_shipdate`` month, events by date) — the loader takes any directory and
Spark's partition discovery handles both layouts; nothing here assumes a
single file.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def _schema_file(fs, path):
    """The file whose footer Spark's non-merging schema inference reads
    under ``path``: the path itself, or the first data file in listing
    order, descending into partition directories. Names starting with
    ``.`` or ``_`` (``_SUCCESS``, ``.crc`` files) are not data, except
    ``_``-names holding ``=`` (partition directories), as in Spark's file
    index. None if there is no data file."""
    if not fs.getFileStatus(path).isDirectory():
        return path
    for child in fs.listStatus(path):
        name = child.getPath().getName()
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        found = _schema_file(fs, child.getPath()) if child.isDirectory() else child.getPath()
        if found is not None:
            return found
    return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with no schema-inference job.

    Reads one footer on the driver (the file inference would read, see
    ``_schema_file``), converts it with Spark's
    ``ParquetToSparkSchemaConverter`` under this session's SQL conf (so
    ``nanosAsLong``, ``inferTimestampNTZ``, ``int96AsTimestamp`` and
    ``binaryAsString`` apply as they do in inference; a Spark-written
    footer's stored schema wins, as it does there) and reads with that
    schema. Partition columns of a hive-style directory are not in the
    footer; the read appends them from the paths, as inference does.
    With ``spark.sql.parquet.mergeSchema`` on, or no data file to read
    (or no path), it is the inference read, which merges or raises
    Spark's own error."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true"
    file = None if merge or not fs.exists(jpath) else _schema_file(fs, jpath)
    if file is None:
        return spark.read.parquet(path)
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    footer = jvm.org.apache.parquet.hadoop.Footer(
        file, jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(hconf, file)
    )
    converter = parquet.ParquetToSparkSchemaConverter(state.conf())
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return spark.read.schema(StructType.fromJson(json.loads(schema.json()))).parquet(path)


@session_frame_cache
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame.

    Resolved once per (session, sf_dir, table, data fingerprint): later
    calls return the same frame, so the footer read and the conf writes
    run only on the first call; a rewritten parquet or a new session reads
    again (``operators.memo.session_frame_cache``). The schema comes from
    the file footer (``read_parquet``), so no call launches a Spark job.

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
    # One Python worker pool for RDD tasks and Arrow fits on a caller's
    # vanilla session too, as ``session.get_spark`` sets it (runtime conf).
    spark.conf.set("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled", "false")
    # set before read_parquet: its footer converter reads these confs
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, path)
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":  # legacy nanos encoding: truncate ns → µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":  # timestamp_ntz (or future variants)
            df = df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        return df
    return read_parquet(spark, path)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for ``spark.sql`` use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
