"""One Python worker pool per session: RDD tasks and Arrow grouped fits share
the daemon, and a kernel error still surfaces with its class and message."""

from __future__ import annotations

import importlib.metadata
import os
import subprocess
import sys
import zipfile

import pytest
from pyspark.errors import PythonException
from pyspark.sql.types import LongType, StructField, StructType

from portofolio_maximizer_spark.operators.arrowgroup import grouped_numpy
from portofolio_maximizer_spark.worker_daemon import lean_path

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
    modules. With the installed pyspark matching Spark's ``pyspark.zip``,
    the workers import pyspark from a directory and hold no
    ``zipimporter`` for a task's ``invalidate_caches()`` to re-read."""
    script = f"""
import os, sys
sys.path.insert(0, {ROOT!r})
from pyspark.sql.types import BooleanType, LongType, StructField, StructType
from portofolio_maximizer_spark.operators.arrowgroup import grouped_numpy
from portofolio_maximizer_spark.session import get_spark
spark = get_spark("worker-preload", cpus=2)

def kernel(cols):
    import pyspark, zipimport
    with open(f"/proc/{{os.getppid()}}/maps") as f:
        maps = f.read()
    zipped = not os.path.isfile(pyspark.__file__)
    importers = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    return [(int(cols["k"][0]), "/pandas/_libs/" in maps, "/pyarrow/lib." in maps, zipped, importers)]

df = spark.range(40).selectExpr("id % 8 AS k", "id AS v")
schema = StructType(
    [StructField("k", LongType()), StructField("pandas", BooleanType()), StructField("pyarrow", BooleanType()),
     StructField("zipped", BooleanType()), StructField("importers", LongType())]
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
    assert out.stdout.strip().splitlines()[-1] == "groups " + str([(k, True, True, False, 0) for k in range(8)])


def test_lean_path_drops_only_archives_that_add_nothing(tmp_path):
    """The daemon's path filter drops ``pyspark.zip`` only when the
    installed pyspark is the release it names, and a jar only when it
    holds no Python; everything else stays, in order."""

    def archive(rel, members):
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        with zipfile.ZipFile(path, "w") as z:
            for name, text in members.items():
                z.writestr(name, text)
        return str(path)

    def pyspark_zip(rel, version):
        return archive(rel, {"pyspark/version.py": f"__version__: str = {version!r}\n"})

    installed = importlib.metadata.version("pyspark")
    matching = pyspark_zip("same/pyspark.zip", installed)
    other = pyspark_zip("other/pyspark.zip", "0.0.0")
    py4j = archive("py4j-0.0.0-src.zip", {"py4j/__init__.py": ""})
    bare_jar = archive("core.jar", {"org/apache/spark/SparkContext.class": "x"})
    py_jar = archive("py.jar", {"org/A.class": "x", "pkg/mod.py": ""})
    broken = tmp_path / "broken" / "pyspark.zip"
    broken.parent.mkdir()
    broken.write_bytes(b"not a zip")
    paths = [str(tmp_path), matching, other, py4j, bare_jar, py_jar, str(broken), ROOT]
    assert lean_path(paths) == [str(tmp_path), other, py4j, py_jar, str(broken), ROOT]


def test_kernel_error_keeps_class_and_message(spark):
    def kernel(cols):
        raise ValueError("boom")

    df = spark.range(6).selectExpr("id % 2 AS k", "id AS v")
    schema = StructType([StructField("k", LongType()), StructField("n", LongType())])
    with pytest.raises(PythonException) as err:
        grouped_numpy(df, ["k"], schema, kernel).collect()
    assert "ValueError" in str(err.value) and "boom" in str(err.value)
