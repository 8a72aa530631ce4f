"""One Python worker pool per session: RDD tasks and Arrow grouped fits share
the daemon, and a kernel error still surfaces with its class and message."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.errors import PythonException
from pyspark.sql.types import LongType, StructField, StructType

from portofolio_maximizer_spark.operators.arrowgroup import grouped_numpy

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_rdd_and_grouped_fit_share_one_daemon(sf_dir):
    """A fresh session (a separate process, so no other test's workers are
    counted) runs an RDD Python action and then a grouped fit; the driver
    JVM must have one daemon child (the session's
    ``spark.python.daemon.module``), not one per path. Checked
    on the tuned factory, on a plain vanilla session, which gets the
    conf from its first source-table read, and on a streaming drain's
    child of that vanilla session, which ``newSession()`` builds without
    the parent's runtime confs."""
    sessions = {
        "tuned": """
from portofolio_maximizer_spark.session import get_spark
spark = get_spark("worker-pool", cpus=2)
""",
        "vanilla": f"""
from pyspark.sql import SparkSession
from portofolio_maximizer_spark.sources.catalog import load_table
spark = SparkSession.builder.master("local[2]").getOrCreate()
load_table(spark, {sf_dir!r}, "region")
""",
        "drain": f"""
from pyspark.sql import SparkSession
from portofolio_maximizer_spark.sources.catalog import load_table
from portofolio_maximizer_spark.streaming.stream import drain_session
spark = SparkSession.builder.master("local[2]").getOrCreate()
load_table(spark, {sf_dir!r}, "region")
spark = drain_session(spark)
""",
    }
    for case, session in sessions.items():
        script = f"""
import os, sys
sys.path.insert(0, {ROOT!r})
from pyspark.sql.types import LongType, StructField, StructType
from portofolio_maximizer_spark.operators.arrowgroup import grouped_numpy
{session}
spark.sparkContext.parallelize(range(4), 2).map(lambda x: x * 2).collect()
df = spark.range(20).selectExpr("id % 3 AS k", "id AS v")
schema = StructType([StructField("k", LongType()), StructField("n", LongType())])
rows = grouped_numpy(df, ["k"], schema, lambda c: [(int(c["k"][0]), len(c["v"]))]).collect()
assert sorted((r.k, r.n) for r in rows) == [(0, 7), (1, 7), (2, 6)], rows

jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
module = spark.sparkContext.getConf().get("spark.python.daemon.module", "pyspark.daemon").encode()
daemons = []
for pid in filter(str.isdigit, os.listdir("/proc")):
    try:
        with open(f"/proc/{{pid}}/stat") as f:
            ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        with open(f"/proc/{{pid}}/cmdline", "rb") as f:
            cmd = f.read().split(b"\\0")
    except OSError:
        continue
    if ppid == jvm and module in cmd:
        daemons.append(pid)
spark.stop()
print("daemons", len(daemons))
"""
        env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
        out = subprocess.run(
            [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=300
        )
        assert out.returncode == 0, (case, out.stderr[-3000:])
        assert out.stdout.strip().splitlines()[-1] == "daemons 1", case


def test_workers_fork_with_arrow_stack_loaded():
    """On a fresh tuned session, the first grouped fit's workers fork from
    a daemon that has already imported pandas and pyarrow, so no group
    pays the import. Inside a group the kernel cannot tell (the Arrow
    calls before it import pandas anyway), so each group reads its
    parent's (the daemon's) memory map for both packages' extension
    modules."""
    script = f"""
import os, sys
sys.path.insert(0, {ROOT!r})
from pyspark.sql.types import BooleanType, LongType, StructField, StructType
from portofolio_maximizer_spark.operators.arrowgroup import grouped_numpy
from portofolio_maximizer_spark.session import get_spark
spark = get_spark("worker-preload", cpus=2)

def kernel(cols):
    with open(f"/proc/{{os.getppid()}}/maps") as f:
        maps = f.read()
    return [(int(cols["k"][0]), "/pandas/_libs/" in maps, "/pyarrow/lib." in maps)]

df = spark.range(40).selectExpr("id % 8 AS k", "id AS v")
schema = StructType(
    [StructField("k", LongType()), StructField("pandas", BooleanType()), StructField("pyarrow", BooleanType())]
)
rows = sorted(grouped_numpy(df, ["k"], schema, kernel).collect())
spark.stop()
print("groups", [tuple(r) for r in rows])
"""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, env=env, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "groups " + str([(k, True, True) for k in range(8)])


def test_kernel_error_keeps_class_and_message(spark):
    def kernel(cols):
        raise ValueError("boom")

    df = spark.range(6).selectExpr("id % 2 AS k", "id AS v")
    schema = StructType([StructField("k", LongType()), StructField("n", LongType())])
    with pytest.raises(PythonException) as err:
        grouped_numpy(df, ["k"], schema, kernel).collect()
    assert "ValueError" in str(err.value) and "boom" in str(err.value)
