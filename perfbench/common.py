"""Pieces shared by the benchmark runner and its correctness gate.

- ``WORKLOADS``: each workload is a set of ``plans`` pack modules; its
  members come from each registered callable's ``__module__``, and a run
  issues every ``stride``-th member (registration order, from ``offset``)
  so one cold pass fits inside a run. The ``streaming_*`` queries are left
  out: the first of them drains all fifteen streams of the family at once
  (45-55 s on 4 cores), more than one run can spend;
- ``isolate``: points everything a run writes (parquet stage root,
  warehouse, Spark local dirs, temp files) at a directory of the checkout
  under test and makes Python workers import that checkout's package;
- ``digest``: row count plus an order-insensitive ``xxhash64`` sum over
  every output column, so the timed action cannot be pruned to fewer
  columns than the query computes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = "portofolio_maximizer_spark"
#: the input tables, deterministic synthetic data at scale factor 0.001
SF_DIR = os.path.join(BENCH, "data", "sf0.001")
#: everything the benchmark writes lives under here (ignored by git)
STATE = os.path.join(ROOT, ".perfbench")
RUN_DIR = os.path.join(STATE, "run")

#: name -> (pack modules, stride, offset)
WORKLOADS: dict[str, tuple[tuple[str, ...], int, int]] = {
    "ops_reports": (("queries_ops", "queries_trades", "queries_risk"), 55, 14),
    "model_refresh": (("queries_models", "queries_adversarial"), 12, 1),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def source_hash() -> str:
    """Content hash of the package under test and of this benchmark."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), BENCH):
        for dirpath, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for fn in sorted(files):
                if fn.endswith((".py", ".parquet")):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def isolate() -> None:
    """Prepare an empty run directory and route every write into it.

    Must run before pyspark starts its JVM: the environment variables and
    the JVM temp dir are read at launch."""
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isdir(SF_DIR):
        raise SystemExit(f"perfbench: {PACKAGE}/ or the input tables are missing")
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for sub in ("local", "tmp", "stage", "warehouse"):
        os.makedirs(os.path.join(RUN_DIR, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    os.environ["TMPDIR"] = os.path.join(RUN_DIR, "tmp")
    # workers run `python -m pyspark.daemon` with this path: only the
    # checkout under test, never another copy of the package
    os.environ["PYTHONPATH"] = ROOT
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path.insert(0, ROOT)
    from portofolio_maximizer_spark.plans import queries as Q

    Q.ORACLE_STAGE = os.path.join(RUN_DIR, "stage")


def spark_conf() -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
        + os.path.join(RUN_DIR, "tmp"),
    }


def start_session(app: str):
    from portofolio_maximizer_spark.session import get_spark

    spark = get_spark(app, cpus=nproc(), extra_conf=spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def empty_stage() -> None:
    from portofolio_maximizer_spark.plans import queries as Q

    shutil.rmtree(Q.ORACLE_STAGE, ignore_errors=True)
    os.makedirs(Q.ORACLE_STAGE)


def check_workers(spark) -> None:
    """Fail unless Python workers import the package from this checkout."""

    def where(_):
        import portofolio_maximizer_spark as pkg

        yield os.path.dirname(os.path.dirname(os.path.realpath(pkg.__file__)))

    roots = set(spark.sparkContext.parallelize(range(nproc()), nproc()).mapPartitions(where).collect())
    if roots != {ROOT}:
        raise SystemExit(f"perfbench: workers import {PACKAGE} from {sorted(roots)}, not {ROOT}")


def workload_queries(workload: str) -> list[str]:
    from portofolio_maximizer_spark.plans import QUERIES

    mods, stride, offset = WORKLOADS[workload]
    members = [
        n
        for n, fn in QUERIES.items()
        if fn.__module__.rsplit(".", 1)[-1] in mods and not n.startswith("streaming_")
    ]
    return members[offset::stride]


def digest(df):
    """The frame the timed action runs: one row of (rows, hash sum)."""
    from pyspark.sql import functions as F

    cols = [
        # map columns are not hashable; their JSON text is
        F.to_json(F.col(f"`{f.name}`")) if "map<" in f.dataType.simpleString() else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    return df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("hash"),
    )


def read_digest(frame) -> list:
    row = frame.collect()[0]
    return [row["rows"], row["hash"]]
