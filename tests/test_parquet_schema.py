"""``sources.catalog.read_parquet`` reads the footer Spark's inference
would read, converts it the same way and launches no job: its schema
equals ``spark.read.parquet``'s for every testdata table, for the events
table under each timestamp encoding it has shipped with, and for
directory layouts; ``load_table`` keeps its dtypes."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_SMALL, TABLES

from portofolio_maximizer_spark.sources.catalog import load_table, read_parquet

BENCH_DATA = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "data", "sf0.001"
)
TESTDATA = os.path.dirname(SF_SMALL)
SF_DIRS = [BENCH_DATA] + [os.path.join(TESTDATA, f"sf{s}") for s in ("0.001", "0.01", "0.1")]


@pytest.fixture
def confs(spark):
    """The read confs ``load_table`` sets, restored after each test."""
    keys = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")
    old = {k: spark.conf.get(k, None) for k in keys}

    def set_(nanos: str = "true", ntz: str = "false"):
        spark.conf.set(keys[0], nanos)
        spark.conf.set(keys[1], ntz)

    set_()
    yield set_
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def _assert_inferred(spark, path):
    """The helper's schema equals inference's, and it ran no job."""
    sc = spark.sparkContext
    sc.setJobGroup("read_parquet", "read_parquet")
    try:
        got = read_parquet(spark, path).schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getJobIdsForGroup("read_parquet"), path
    want = spark.read.parquet(path).schema
    assert got == want, (path, got.simpleString(), want.simpleString())
    return got


@pytest.mark.parametrize("sf", SF_DIRS, ids=lambda d: os.path.relpath(d, os.path.dirname(TESTDATA)))
def test_footer_schema_equals_inference_for_every_table(spark, confs, sf):
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} is not generated")
    for table in TABLES:
        _assert_inferred(spark, os.path.join(sf, f"{table}.parquet"))


def _events(n: int = 50) -> dict:
    return {
        "event_id": pa.array(range(n), pa.int64()),
        "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
        "event_type": pa.array(["view", "purchase"] * (n // 2)),
        "value": pa.array([i / 3 for i in range(n)], pa.float64()),
    }


@pytest.mark.parametrize("ntz", ["false", "true"])
@pytest.mark.parametrize("encoding", ["ntz_micros", "nanos", "int96"])
def test_events_ts_encodings(spark, confs, tmp_path, encoding, ntz):
    """Under both ``inferTimestampNTZ`` settings, as ``nanosAsLong`` is on
    wherever events are read: un-adjusted micros (NTZ or LTZ by the
    conf), legacy TIMESTAMP(NANOS) (a long) and INT96 (a timestamp)."""
    confs(ntz=ntz)
    ts = [1_700_000_000_000_000 + 3_600_000_000 * i for i in range(50)]
    cols = _events()
    path = str(tmp_path / "events.parquet")
    if encoding == "ntz_micros":
        cols["ts"] = pa.array(ts, pa.timestamp("us"))
        pq.write_table(pa.table(cols), path)
    elif encoding == "nanos":
        cols["ts"] = pa.array([t * 1000 for t in ts], pa.timestamp("ns"))
        pq.write_table(pa.table(cols), path, version="2.6")
    else:
        cols["ts"] = pa.array(ts, pa.timestamp("us"))
        pq.write_table(pa.table(cols), path, use_deprecated_int96_timestamps=True)
    want = {"ntz_micros": "timestamp_ntz" if ntz == "true" else "timestamp", "nanos": "bigint"}
    assert _assert_inferred(spark, path)["ts"].dataType.simpleString() == want.get(encoding, "timestamp")


def test_spark_written_directory(spark, confs, tmp_path):
    """Four part files plus ``_SUCCESS`` and ``.crc`` side files: the
    helper skips the side files and reads a part file's footer."""
    path = str(tmp_path / "events.parquet")
    load_table(spark, SF_SMALL, "events").limit(400).repartition(4).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.startswith(".") and n.endswith(".crc") for n in names)
    assert sum(n.endswith(".parquet") for n in names) == 4
    _assert_inferred(spark, path)


def test_hive_partitioned_directory(spark, confs, tmp_path):
    """The partition column is not in any footer; the read appends it
    from the paths, as inference does."""
    path = str(tmp_path / "lineitem.parquet")
    li = load_table(spark, SF_SMALL, "lineitem").limit(500)
    li.write.partitionBy("l_returnflag").parquet(path)
    _assert_inferred(spark, path)
    assert read_parquet(spark, path).columns[-1] == "l_returnflag"


def test_load_table_dtypes_unchanged(spark, confs):
    """``load_table`` keeps the inferred dtypes, with events.ts always a
    (local) timestamp."""
    for sf in SF_DIRS:
        if not os.path.isdir(sf):
            continue
        for table in TABLES:
            want = spark.read.parquet(os.path.join(sf, f"{table}.parquet")).dtypes
            if table == "events":
                want = [(c, "timestamp" if c == "ts" else t) for c, t in want]
            assert load_table(spark, sf, table).dtypes == want, (sf, table)
